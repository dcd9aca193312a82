package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.classic.{ClassicPipeline, ClassicUpdate, StyleFile}
import graft.cli.{Main, Options}
import graft.flex.{Enrich, FlexRunner}
import graft.operators.{Expire, Middle, TileCover}
import graft.sinks.{ClassicPgLoad, PgClassic, PgLive}
import graft.sources.{OsmSource, OsmXml}

/** The benchmark harness: one run of one workload, printing one JSON
  * line `{"correct", "attempted", "failed", "metrics", ...}` last on
  * stdout.
  *
  * `perfbench.Bench <workload> <seed> <seconds> <trace 0|1> <workdir>
  *  <dsn|-> <cores> <query-data-dir> <pinned.json> <postmaster-pid|->`
  *
  * Untraced runs (trace 0) drive the engine only through its CLI entry
  * point, `graft.cli.Main.run(spark, Options.parse(args))`, and report
  * the end-to-end metrics. Traced runs (trace 1) call each layer's
  * public functions in turn, materialize each output inside a named
  * span, and report the per-layer metrics; a [[SpanListener]] added
  * from outside attributes Spark's work to the spans.
  */
object Bench {

  // ---------- workload sizes ----------

  /** osm-import: input nodes (ways ~1/7 of that, relations ~1/11 of
    * the ways) and objects in the change file of the traced run */
  val ImportNodes = 25000
  val DiffSize = 300
  /** expire zoom of the import */
  val ExpireZoom = 14
  /** osm-import times at least `ImportOps` imports after its set-up,
    * oracle-queries at least `QueryPasses` passes */
  val ImportOps = 2
  val QueryPasses = 1
  /** oracle-queries runs the first query by name of each sub-registry,
    * plus the queries that read reference files, so the pass fits in a
    * run */
  val ReferenceBoundQueries = Seq("q112_source_parity", "q125_flex_lua_e2e")

  val Prefix = "planet_osm"
  val ClassicKinds = Seq("point", "line", "polygon", "roads")

  final case class Conf(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, dsn: Option[String], cores: Int,
      queryData: String, pinned: Map[String, String], pgPid: Option[Long])

  /** The run's outcome. `wrong` counts operations whose output failed a
    * check; `failed` also counts operations that threw. */
  final class Outcome {
    var attempted = 0
    var failed = 0
    var wrong = 0
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val digests = mutable.LinkedHashMap.empty[String, String]
    def put(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, dsn, cores, qdata,
      pinnedPath, pgPid) = args
    val conf = Conf(workload, seed.toLong, seconds.toInt, trace == "1",
      work, Option(dsn).filter(_ != "-"), cores.toInt, qdata,
      Pinned.load(pinnedPath, workload, seed),
      Option(pgPid).filter(_ != "-").map(_.toLong))
    val out = new Outcome
    val w: Workload = workload match {
      case "osm-import"     => new ImportWorkload(conf)
      case "oracle-queries" => new QueryWorkload(conf)
      case other =>
        System.err.println(s"unknown workload '$other'"); sys.exit(2)
    }
    try if (conf.trace) w.traced(out) else w.untraced(out)
    finally w.close()
    println(json(out))
  }

  def json(o: Outcome): String = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
    val ms = o.metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString("{", ", ", "}")
    val ds = o.digests.map { case (k, v) => s"${str(k)}: ${str(v)}" }
      .mkString("{", ", ", "}")
    s"""{"correct": ${o.wrong == 0}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": $ms, "digests": $ds}"""
  }

  // ---------- shared helpers ----------

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def newSession(conf: Conf, cores: Int, shufflePartitions: Int)
      : SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))

  def dirMb(path: String): Double = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.sizeOfDirectory(f) / 1e6
    else 0.0
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
  }

  def resetHeapPeak(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())
  }

  /** Materialize every column of `df` (a `noop` write: nothing is
    * pruned, nothing is kept) and return the observed digest. */
  def materialize(df: DataFrame, name: String): String = {
    val obs = Observation(name)
    val aggs = Digest.aggregates(df)
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Digest.fromRow(m("rows").asInstanceOf[Long],
      m("hash").asInstanceOf[java.math.BigDecimal])
  }

  /** Persist and count: the frame is computed once, here. */
  def pin(df: DataFrame): Long = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
  }

  /** The per-layer metric names, units and the spans they sum. Every
    * traced run prints all of them; a layer the workload does not use
    * reports 0. */
  val Layers = Seq("sources", "middle", "classic", "flex", "sinks",
    "expire", "update", "queries")
  val QueryFamilies: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "Pipeline" -> graft.queries.Pipeline.queries,
    "Pipeline2" -> graft.queries.Pipeline2.queries,
    "Pipeline3" -> graft.queries.Pipeline3.queries,
    "Pipeline4" -> graft.queries.Pipeline4.queries,
    "Pipeline5" -> graft.queries.Pipeline5.queries,
    "Pipeline6" -> graft.queries.Pipeline6.queries,
    "Pipeline7" -> graft.queries.Pipeline7.queries,
    "Pipeline8" -> graft.queries.Pipeline8.queries,
    "Pipeline9" -> graft.queries.Pipeline9.queries,
    "Pipeline10" -> graft.queries.Pipeline10.queries,
    "Pipeline11" -> graft.queries.Pipeline11.queries,
    "Pipeline12" -> graft.queries.Pipeline12.queries,
    "Pipeline13" -> graft.queries.Pipeline13.queries,
    "OsmAnalog" -> graft.queries.OsmAnalog.queries,
    "GenQueries" -> graft.queries.GenQueries.queries)

  val LayerMetrics: Seq[(String, String)] = Seq(
    "sources.decode_ms" -> "ms", "sources.objects" -> "count",
    "sources.read_amplification" -> "ratio",
    "middle.resolve_ms" -> "ms", "middle.way_refs" -> "count",
    "middle.unresolved_ref_share" -> "ratio",
    "classic.transform_ms" -> "ms", "classic.rows_out" -> "count",
    "classic.kept_share" -> "ratio",
    "sinks.parquet_write_ms" -> "ms", "sinks.parquet_mb" -> "MB",
    "sinks.copy_ms" -> "ms", "sinks.copy_mb" -> "MB",
    "sinks.middle_write_ms" -> "ms", "sinks.middle_write_mb" -> "MB",
    "expire.ms" -> "ms", "expire.tiles" -> "count",
    "update.decode_ms" -> "ms", "update.closure_ms" -> "ms",
    "update.rederive_ms" -> "ms", "update.pg_apply_ms" -> "ms",
    "update.parquet_write_ms" -> "ms", "update.middle_write_ms" -> "ms",
    "update.middle_write_mb" -> "MB",
    "update.changed_objects" -> "count", "update.pending_ways" -> "count",
    "update.pending_rels" -> "count", "update.rederived_rows" -> "count",
    "update.rederive_amplification" -> "ratio",
    "update.fresh_geometry_mismatch" -> "count",
    "flex.enrich_ms" -> "ms", "flex.run_ms" -> "ms",
    "flex.parquet_write_ms" -> "ms", "flex.rows_out" -> "count") ++
    QueryFamilies.flatMap { case (f, _) => Seq(
      s"queries.$f.construct_ms" -> "ms",
      s"queries.$f.construct_jobs" -> "count",
      s"queries.$f.execute_ms" -> "ms") } ++
    Seq("queries.plan_ms" -> "ms", "queries.p50_s" -> "s",
      "queries.p90_s" -> "s") ++
    Layers.flatMap(l => Seq(s"$l.jobs" -> "count",
      s"$l.shuffle_mb" -> "MB", s"$l.gc_ms" -> "ms",
      s"$l.driver_gap_ms" -> "ms")) ++
    Seq("trace.setup_wall_s" -> "s", "trace.untraced_s" -> "s",
      "trace.traced_s" -> "s",
      "trace.overhead_s" -> "s", "trace.stages" -> "count",
      "trace.tasks" -> "count", "trace.input_mb" -> "MB",
      "trace.output_mb" -> "MB", "trace.spill_mb" -> "MB",
      "jvm.heap_peak_mb" -> "MB",
      "ops.failed_share" -> "ratio")

  /** Fill `out` with every per-layer metric from `values` and the
    * spans' Spark accounting (0 for what this workload did not use). */
  def layerMetrics(out: Outcome, spans: Spans,
      values: mutable.Map[String, Double]): Unit = {
    spans.drain()
    Layers.foreach { l =>
      val ss = spans.under(l)
      values(s"$l.jobs") = ss.map(_.jobs).sum.toDouble
      values(s"$l.shuffle_mb") =
        ss.map(s => s.shuffleReadBytes + s.shuffleWriteBytes).sum / 1e6
      values(s"$l.gc_ms") = ss.map(_.gcMs).sum.toDouble
      values(s"$l.driver_gap_ms") = ss.map(_.driverGapMs).sum
    }
    val all = spans.all
    values("trace.stages") = all.map(_.stages).sum.toDouble
    values("trace.tasks") = all.map(_.tasks).sum.toDouble
    values("trace.input_mb") = all.map(_.inputBytes).sum / 1e6
    values("trace.output_mb") = all.map(_.outputBytes).sum / 1e6
    values("trace.spill_mb") = all.map(_.spillBytes).sum / 1e6
    values("ops.failed_share") =
      if (out.attempted == 0) 0.0 else out.failed.toDouble / out.attempted
    LayerMetrics.foreach { case (name, unit) =>
      out.put(name, values.getOrElse(name, 0.0), unit)
    }
  }

  /** End-to-end metrics every untraced run prints: `setupS` is the
    * cold set-up's CPU seconds, `cpu` the CPU seconds of each timed
    * operation, `objects` what one operation processes. The CPU seconds
    * of the timed operations are averaged, not their median taken:
    * compilation work the JIT defers from one operation to the next is
    * counted either way. */
  def endToEnd(out: Outcome, setupS: Double, cpu: Seq[Double],
      objects: Double): Unit = {
    val perOp = cpu.sum / cpu.size
    out.put("setup_s", setupS, "s")
    out.put("cpu_s", perOp, "s")
    out.put("objects_per_cpu_s", objects / perOp, "1/s")
  }
}

/** One workload: an untraced and a traced way to run it. */
abstract class Workload(val conf: Bench.Conf) {
  import Bench._

  protected var spark: SparkSession = _
  protected def shufflePartitions: Int = conf.cores

  /** (Re)create the session. */
  protected def session(): Unit = {
    if (spark != null) stopSession(spark)
    spark = newSession(conf, conf.cores, shufflePartitions)
  }

  /** Session + `first`: the cold cost a fresh CLI process pays (JVM
    * start-up aside). Returns its CPU seconds and wall seconds. */
  protected def setup(first: () => Unit): (Double, Double) = {
    val t0 = System.nanoTime()
    val c0 = cpuNow()
    session()
    first()
    val (cpu, wall) = (cpuNow() - c0, secs(t0))
    log(f"setup: $wall%.2f s, cpu $cpu%.2f s")
    (cpu, wall)
  }

  /** CPU seconds this JVM and the PostgreSQL server have used so far */
  protected def cpuNow(): Double = Cpu.ns(conf.pgPid) / 1e9

  /** Run `op` until `--seconds` have passed, at least `min` times;
    * returns the CPU seconds of each call that did not throw. `after`
    * runs after each call, untimed, told whether the call returned. */
  protected def repeat(min: Int)(op: () => Unit)(
      after: Boolean => Unit): Seq[Double] = {
    val cpu = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + conf.seconds * 1000000000L
    var i = 0
    do {
      val t0 = System.nanoTime()
      val c0 = cpuNow()
      val ran = try {
        op()
        cpu += cpuNow() - c0
        log(f"operation $i: ${secs(t0)}%.2f s, cpu ${cpu.last}%.2f s")
        true
      } catch {
        case e: Exception =>
          log(s"operation $i failed: $e")
          false
      }
      after(ran)
      i += 1
    } while (i < min || System.nanoTime() < deadline)
    cpu.toSeq
  }

  def cli(args: Seq[String]): Unit =
    Main.run(spark, Options.parse(args.toIndexedSeq))

  def untraced(out: Outcome): Unit
  def traced(out: Outcome): Unit

  def close(): Unit = if (spark != null) stopSession(spark)
}

/** osm-import: the classic pgsql import, `--slim -e <z> -d <dsn>`.
  *
  * Untraced: a cold import (setup), then timed imports, each checked
  * against the first one (order-insensitive digests per table), against
  * the pinned digests of the seed when there are any, and PostgreSQL row
  * counts against the parquet row counts.
  *
  * Traced: the same import layer by layer, then one change file through
  * the append path (`update`), the flex path over the same input
  * (`flex`). */
final class ImportWorkload(conf0: Bench.Conf) extends Workload(conf0) {
  import Bench._

  lazy val files = OsmGen.write(s"${conf.work}/input", conf.seed,
    ImportNodes, 1, DiffSize)
  def out = s"${conf.work}/import"

  def dsn: String = conf.dsn.getOrElse(
    throw new IllegalStateException("osm-import needs a PostgreSQL DSN"))

  def importArgs(input: String, dir: String): Seq[String] =
    Seq(input, "--slim", "-e", ExpireZoom.toString, "-d", dsn,
      "-p", Prefix, "--output-dir", dir)

  def parquetDigests(dir: String): Map[String, String] =
    ClassicKinds.map(k => k -> Digest.of(
      spark.read.parquet(s"$dir/${Prefix}_$k"))).toMap

  /** PostgreSQL row counts equal the row counts of the parquet
    * `digests`. */
  def pgMatches(digests: Map[String, String]): Boolean =
    digests.forall { case (k, d) =>
      val p = d.takeWhile(_ != ':').toLong
      val g = PgLive.queryOne(dsn,
        s"""SELECT count(*) FROM "public"."${Prefix}_$k";""").toLong
      if (p != g) log(s"${Prefix}_$k: $p parquet rows, $g in PostgreSQL")
      p == g
    }

  /** Digests equal the pinned ones for this seed, where pinned. */
  def matchesPinned(ds: Map[String, String]): Boolean =
    ds.forall { case (k, v) =>
      conf.pinned.get(s"${Prefix}_$k").forall { p =>
        if (p != v) log(s"${Prefix}_$k: digest $v, pinned $p")
        p == v
      }
    }

  /** rows:hash of a PostgreSQL table, order-insensitive, over the row
    * minus the `drop` columns. */
  def pgDigest(table: String, drop: Seq[String] = Nil): String = {
    val row = if (drop.isEmpty) "t::text"
      else drop.map(c => s" - '$c'").mkString("(to_jsonb(t)", "", ")::text")
    PgLive.queryOne(dsn, "SELECT count(*) || ':' || coalesce(sum(('x' || " +
      s"substr(md5($row), 1, 16))::bit(64)::bigint::numeric), 0) " +
      s"""FROM "public"."$table" t;""")
  }

  lazy val style = StyleFile.defaultStyle
  lazy val pgTables = PgClassic.tables(Prefix, style, hstore = false)

  def untraced(out0: Outcome): Unit = {
    files
    val (setupS, _) = setup(() => cli(importArgs(files.base, out)))
    val reference = parquetDigests(out)
    reference.foreach { case (k, v) => out0.digests(s"${Prefix}_$k") = v }
    val refOk = pgMatches(reference) && matchesPinned(reference)
    val cpu = repeat(ImportOps)(() => cli(importArgs(files.base, out))) {
      ran =>
        out0.attempted += 1
        if (!ran) out0.failed += 1
        else {
          val ds = parquetDigests(out)
          if (!(refOk && ds == reference && pgMatches(ds))) {
            out0.failed += 1; out0.wrong += 1
          }
        }
    }
    endToEnd(out0, setupS, cpu, files.baseObjects.toDouble)
  }

  // ---------- traced ----------

  def expireTiles(osm: OsmXml.OsmDataFrames): Long = {
    val cover = Expire.fromOsmEntities(osm,
      TileCover.Config(zoom = ExpireZoom, mode = TileCover.Hybrid(20000.0)),
      maxTilesPerGeometry = TileCover.Limits().maxTilesPerGeometry)
    Expire.rollup(cover, "x", "y", ExpireZoom, ExpireZoom).count()
  }

  /** Decode `paths` inside `span`. */
  def decode(spans: Spans, span: String, paths: Seq[String],
      values: mutable.Map[String, Double]): OsmXml.OsmDataFrames = {
    val r0 = spans.get(span).readChars
    val osm = spans.span(span) {
      val o = OsmSource.read(spark, paths)
      values("sources.objects") =
        (o.nodes.count() + o.ways.count() + o.relations.count()).toDouble
      o
    }
    val bytes = paths.map(p => new java.io.File(p).length()).sum
    values("sources.read_amplification") =
      (spans.get(span).readChars - r0).toDouble / bytes
    osm
  }

  /** The import, layer by layer, into `dir`; returns the decoded input. */
  def tracedImport(spans: Spans, values: mutable.Map[String, Double],
      dir: String): OsmXml.OsmDataFrames = {
    val osm = decode(spans, "sources.decode", Seq(files.base), values)
    val refs = osm.ways.select(sum(size(col("nodes")))).head().getLong(0)
    spans.span("middle.resolve") {
      val obs = Observation("middle")
      Middle.resolveAllWayCoords(osm)
        .observe(obs, sum(size(col("wlons"))).as("resolved"))
        .write.format("noop").mode("overwrite").save()
      val resolved = obs.get("resolved").asInstanceOf[Long]
      values("middle.way_refs") = refs.toDouble
      values("middle.unresolved_ref_share") = 1.0 - resolved.toDouble / refs
    }
    val t = spans.span("classic.transform") {
      val t = ClassicPipeline.run(osm, style)
      val n = Seq(t.point, t.line, t.polygon, t.roads).map(pin).sum
      values("classic.rows_out") = n.toDouble
      values("classic.kept_share") = n.toDouble / values("sources.objects")
      t
    }
    val named = ClassicKinds.zip(Seq(t.point, t.line, t.polygon, t.roads))
    spans.span("sinks.parquet_write") {
      named.foreach { case (k, df) =>
        df.write.mode("overwrite").parquet(s"$dir/${Prefix}_$k")
      }
    }
    values("sinks.parquet_mb") =
      ClassicKinds.map(k => dirMb(s"$dir/${Prefix}_$k")).sum
    spans.span("sinks.middle_write") {
      osm.nodes.write.mode("overwrite").parquet(s"$dir/middle/nodes")
      osm.ways.write.mode("overwrite").parquet(s"$dir/middle/ways")
      osm.relations.write.mode("overwrite").parquet(s"$dir/middle/relations")
    }
    values("sinks.middle_write_mb") = dirMb(s"$dir/middle")
    spans.span("sinks.copy") {
      val postgis = ClassicPgLoad.prepareServer(dsn, hstore = false)
      pgTables.foreach { pt =>
        ClassicPgLoad.createLoad(pt, spark.read.parquet(s"$dir/${pt.name}"),
          dsn, "public", hstoreAll = false, slim = true, postgis)
      }
    }
    values("sinks.copy_mb") = pgTables.map(pt => PgLive.queryOne(dsn,
      s"SELECT pg_table_size('\"public\".\"${pt.name}\"');").toDouble).sum / 1e6
    spans.span("expire") {
      values("expire.tiles") = expireTiles(osm).toDouble
    }
    Seq(t.point, t.line, t.polygon, t.roads).foreach(_.unpersist())
    osm
  }

  /** One change file through the append path, layer by layer, the way
    * `Main.run -a` applies it, on the tables and middle under `dir`. */
  def tracedDiff(spans: Spans, values: mutable.Map[String, Double],
      dir: String, diff: String): Unit = {
    val before = OsmXml.OsmDataFrames(
      spark.read.parquet(s"$dir/middle/nodes"),
      spark.read.parquet(s"$dir/middle/ways"),
      spark.read.parquet(s"$dir/middle/relations"))
    val prev = ClassicPipeline.Tables4(
      spark.read.parquet(s"$dir/${Prefix}_point"),
      spark.read.parquet(s"$dir/${Prefix}_line"),
      spark.read.parquet(s"$dir/${Prefix}_polygon"),
      spark.read.parquet(s"$dir/${Prefix}_roads"))
    val changes = mutable.Map.empty[String, Double]
    val ch = decode(spans, "update.decode", Seq(diff), changes)
    values("update.changed_objects") = changes("sources.objects")
    val delta = ClassicUpdate.computeDelta(before, ch, style)
    spans.span("update.closure") {
      pin(delta.changedNodes)
      values("update.pending_ways") = pin(delta.pendingWays).toDouble
      values("update.pending_rels") = pin(delta.pendingRels).toDouble
    }
    val r = delta.rederived
    spans.span("update.rederive") {
      values("update.rederived_rows") =
        Seq(r.point, r.line, r.polygon, r.roads).map(pin).sum.toDouble
    }
    values("update.rederive_amplification") =
      values("update.rederived_rows") / values("update.changed_objects")
    spans.span("update.pg_apply") {
      val postgis = ClassicPgLoad.prepareServer(dsn, hstore = false)
      ClassicPgLoad.append(pgTables, delta, dsn, "public",
        hstoreAll = false, postgis)
    }
    val t = ClassicUpdate.applyDelta(prev, delta)
    spans.span("update.parquet_write") {
      ClassicKinds.zip(Seq(t.point, t.line, t.polygon, t.roads)).foreach {
        case (k, df) =>
          df.write.mode("overwrite").parquet(s"$dir/${Prefix}_${k}_new")
      }
    }
    spans.span("update.middle_write") {
      val merged = ClassicUpdate.applyChanges(before, ch)
      merged.nodes.write.mode("overwrite").parquet(s"$dir/middle_new/nodes")
      merged.ways.write.mode("overwrite").parquet(s"$dir/middle_new/ways")
      merged.relations.write.mode("overwrite")
        .parquet(s"$dir/middle_new/relations")
    }
    values("update.middle_write_mb") = dirMb(s"$dir/middle_new")
    (Seq(delta.changedNodes, delta.pendingWays, delta.pendingRels) ++
      Seq(r.point, r.line, r.polygon, r.roads)).foreach(_.unpersist())
    ch.unpersistBacking()
    def swap(from: String, to: String): Unit = {
      deleteTree(s"$dir/$to")
      org.apache.commons.io.FileUtils.moveDirectory(
        new java.io.File(s"$dir/$from"), new java.io.File(s"$dir/$to"))
    }
    ClassicKinds.foreach(k => swap(s"${Prefix}_${k}_new", s"${Prefix}_$k"))
    swap("middle_new", "middle")
  }

  /** Compare the appended tables under `dir`, in parquet and in
    * PostgreSQL, with a fresh import of the state after the change file.
    * Returns the (table, store) pairs that differ outside the geometry
    * columns, and those that differ only in them. */
  def appendVsFresh(dir: String): (Int, Int) = {
    val fresh = s"${conf.work}/fresh"
    val osm = OsmSource.read(spark, Seq(files.finalState))
    val t = ClassicPipeline.run(osm, style)
    ClassicKinds.zip(Seq(t.point, t.line, t.polygon, t.roads)).foreach {
      case (k, df) => df.write.mode("overwrite").parquet(s"$fresh/check_$k")
    }
    osm.unpersistBacking()
    val postgis = ClassicPgLoad.prepareServer(dsn, hstore = false)
    PgClassic.tables("check", style, hstore = false).foreach { pt =>
      ClassicPgLoad.createLoad(pt, spark.read.parquet(s"$fresh/${pt.name}"),
        dsn, "public", hstoreAll = false, slim = true, postgis)
    }
    // the geometry columns: in parquet, the point coordinates and `geom`;
    // in PostgreSQL, `way`; `way_area` is computed from the geometry
    val geomParquet = Seq("lon", "lat", "geom", "way_area")
    val geomPg = Seq("way", "way_area")
    val pairs = ClassicKinds.flatMap { k =>
      val a = spark.read.parquet(s"$dir/${Prefix}_$k")
      val f = spark.read.parquet(s"$fresh/check_$k")
      // (store, full digests, digests without geometry)
      Seq(
        ("parquet", (Digest.of(a), Digest.of(f)),
          (Digest.of(a.drop(geomParquet: _*)),
            Digest.of(f.drop(geomParquet: _*)))),
        ("PostgreSQL", (pgDigest(s"${Prefix}_$k"), pgDigest(s"check_$k")),
          (pgDigest(s"${Prefix}_$k", geomPg), pgDigest(s"check_$k", geomPg))))
        .map { case (store, full, bare) =>
          if (full._1 != full._2)
            log(s"${Prefix}_$k in $store after the diff differs from a " +
              s"fresh import: $full; without geometry $bare")
          (full._1 != full._2, bare._1 != bare._2)
        }
    }
    (pairs.count(_._2), pairs.count(p => p._1 && !p._2))
  }

  /** The flex path over the decoded input, with the compiled
    * compatible config, landing parquet under `dir`. */
  def tracedFlex(spans: Spans, values: mutable.Map[String, Double],
      osm: OsmXml.OsmDataFrames, dir: String): Unit = {
    val enriched = spans.span("flex.enrich") {
      val e = Enrich.forFlex(osm, "create")
      Seq(e.nodes, e.ways, e.relations).foreach(pin)
      e
    }
    val res = spans.span("flex.run") {
      val r = FlexRunner.run(graft.flex.examples.Compatible, enriched)
      values("flex.rows_out") =
        r.tables.values.map(tr => pin(tr.rows)).sum.toDouble
      r
    }
    spans.span("flex.parquet_write") {
      res.tables.foreach { case (name, tr) =>
        tr.rows.write.mode("overwrite").parquet(s"$dir/$name")
      }
    }
    (Seq(enriched.nodes, enriched.ways, enriched.relations) ++
      res.tables.values.map(_.rows)).foreach(_.unpersist())
  }

  def traced(out0: Outcome): Unit = {
    files
    val values = mutable.Map.empty[String, Double]
    values("trace.setup_wall_s") =
      setup(() => cli(importArgs(files.base, out)))._2
    out0.attempted += 1
    val t0 = System.nanoTime()
    cli(importArgs(files.base, out))
    val untracedS = secs(t0)
    log(f"untraced import: $untracedS%.2f s")
    resetHeapPeak()
    val spans = new Spans(spark)
    val dir = s"${conf.work}/traced"
    val t1 = System.nanoTime()
    val osm = tracedImport(spans, values, dir)
    val tracedS = secs(t1)
    log(f"traced import: $tracedS%.2f s")
    // the traced import must land what the CLI import landed
    out0.attempted += 1
    val ds = parquetDigests(dir)
    if (ds != parquetDigests(out) || !pgMatches(ds)) {
      out0.failed += 1; out0.wrong += 1
    }
    // the appended tables must equal a fresh import of the state after
    // the diff, except for the last bits of the geometry (see METRICS.md)
    val t2 = System.nanoTime()
    out0.attempted += 1
    try {
      tracedDiff(spans, values, dir, files.diffs.head)
      log(f"traced diff: ${secs(t2)}%.2f s")
      val (attrs, geometry) = appendVsFresh(dir)
      values("update.fresh_geometry_mismatch") = geometry
      if (!pgMatches(parquetDigests(dir)) || attrs > 0) {
        out0.failed += 1; out0.wrong += 1
      }
    } catch {
      case e: Exception =>
        log(s"traced diff failed: $e"); out0.failed += 1
    }
    val t3 = System.nanoTime()
    tracedFlex(spans, values, osm, s"${conf.work}/flex")
    log(f"traced flex: ${secs(t3)}%.2f s")
    osm.unpersistBacking()
    values("jvm.heap_peak_mb") = heapPeakMb()
    spans.drain()
    Seq("sources.decode", "middle.resolve", "classic.transform",
      "sinks.parquet_write", "sinks.middle_write", "sinks.copy",
      "update.decode", "update.closure", "update.rederive", "update.pg_apply",
      "update.parquet_write", "update.middle_write", "flex.enrich",
      "flex.run", "flex.parquet_write").foreach { s =>
      values(s"${s}_ms") = spans.get(s).wallMs
    }
    values("expire.ms") = spans.get("expire").wallMs
    values("trace.untraced_s") = untracedS
    values("trace.traced_s") = tracedS
    values("trace.overhead_s") = tracedS - untracedS
    layerMetrics(out0, spans, values)
  }
}

final class QueryWorkload(conf0: Bench.Conf) extends Workload(conf0) {
  import Bench._

  // the query registry's own bench settings (graft.Bench)
  override protected def shufflePartitions: Int = 32

  /** The kept queries with their family, in an order drawn from the
    * seed. */
  lazy val order: Seq[(String, String)] = {
    val kept = QueryFamilies.flatMap { case (f, qs) =>
      qs.keys.toSeq.sorted.filter(n => n == qs.keys.min ||
        ReferenceBoundQueries.contains(n)).map(_ -> f)
    }
    new scala.util.Random(conf.seed).shuffle(kept)
  }
  def fn(name: String) = graft.SparkEntry.queries(name)

  /** Construct, then materialize every column; the digest is observed
    * in the same execution. None when the query threw. */
  def runQuery(name: String): Option[String] =
    try Some(materialize(fn(name)(spark, conf.queryData), name))
    catch {
      case e: Exception =>
        log(s"$name failed: ${e.getClass.getName}: ${e.getMessage}".take(300))
        None
    }

  /** Count a query's outcome: threw, or a digest that is not the
    * pinned one. */
  def check(out0: Outcome, name: String, r: Option[String]): Unit = {
    out0.attempted += 1
    r match {
      case None => out0.failed += 1
      case Some(d) =>
        out0.digests(name) = d
        conf.pinned.get(name).filter(_ != d).foreach { p =>
          log(s"$name: digest $d, pinned $p")
          out0.failed += 1; out0.wrong += 1
        }
    }
  }

  /** One pass over the kept queries, each checked when `out0` is given;
    * per-query seconds. */
  def pass(out0: Option[Outcome]): Seq[Double] = order.map { case (name, _) =>
    val t0 = System.nanoTime()
    val r = runQuery(name)
    val dt = secs(t0)
    out0.foreach(check(_, name, r))
    dt
  }

  /** The set-up's operation is the first pass, which compiles every
    * query; the timed passes after it are warm. */
  def untraced(out0: Outcome): Unit = {
    val (setupS, _) = setup(() => pass(None))
    val cpu = repeat(QueryPasses)(() => pass(Some(out0)))(_ => ())
    endToEnd(out0, setupS, cpu, order.size.toDouble)
  }

  def traced(out0: Outcome): Unit = {
    val values = mutable.Map.empty[String, Double]
    // the traced pass is compared with an untraced warm pass
    values("trace.setup_wall_s") = setup(() => pass(None))._2
    val plain = pass(Some(out0))
    values("queries.p50_s") = median(plain)
    values("queries.p90_s") = quantile(plain, 0.9)
    resetHeapPeak()
    val spans = new Spans(spark)
    val t0 = System.nanoTime()
    order.foreach { case (name, family) =>
      val r = try {
        val df = spans.span(s"queries.$family.construct") {
          fn(name)(spark, conf.queryData)
        }
        spans.span("queries.plan") { df.queryExecution.executedPlan }
        Some(spans.span(s"queries.$family.execute") { materialize(df, name) })
      } catch {
        case e: Exception =>
          log(s"$name failed: $e".take(300)); None
      }
      check(out0, name, r)
    }
    val tracedS = secs(t0)
    values("jvm.heap_peak_mb") = heapPeakMb()
    spans.drain()
    QueryFamilies.foreach { case (f, _) =>
      val c = spans.get(s"queries.$f.construct")
      values(s"queries.$f.construct_ms") = c.wallMs
      values(s"queries.$f.construct_jobs") = c.jobs.toDouble
      values(s"queries.$f.execute_ms") = spans.get(s"queries.$f.execute").wallMs
    }
    values("queries.plan_ms") = spans.get("queries.plan").wallMs
    values("trace.untraced_s") = plain.sum
    values("trace.traced_s") = tracedS
    values("trace.overhead_s") = tracedS - plain.sum
    layerMetrics(out0, spans, values)
  }
}

/** Pinned digests: `{"<workload>": {"<seed>" | "*": {"<key>": "rows:hash"}}}`.
  * A seed's own entry wins over "*"; keys not pinned are not checked. */
object Pinned {
  def load(path: String, workload: String, seed: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists()) return Map.empty
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val w = root.path(workload)
    def entries(n: com.fasterxml.jackson.databind.JsonNode) =
      n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    entries(w.path("*")) ++ entries(w.path(seed))
  }
}

/** CPU time (user + system) used so far by this JVM and, given the pid
  * of a PostgreSQL postmaster, by that server: the postmaster, its live
  * children and the children it has reaped. Time the hypervisor steals
  * from the machine's CPUs is not counted. */
object Cpu {
  /** /proc times are in clock ticks of 1/100 s on Linux */
  val TickNs = 10000000L

  def ns(pg: Option[Long]): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime + pg.map(pgNs).getOrElse(0L)

  /** Fields of /proc/<pid>/stat after the command name, or None when
    * the process is gone. */
  def fields(pid: String): Option[Array[String]] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/proc/$pid/stat")))
      Some(s.substring(s.lastIndexOf(')') + 2).split(' '))
    } catch { case _: java.io.IOException => None }

  // fields: 1 ppid, 11 utime, 12 stime, 13 cutime, 14 cstime
  def pgNs(postmaster: Long): Long = {
    val own = fields(postmaster.toString).map(f =>
      f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong).getOrElse(0L)
    val pids = Option(new java.io.File("/proc").list()).getOrElse(Array.empty)
      .filter(_.forall(_.isDigit))
    val children = pids.iterator.flatMap(fields)
      .filter(_(1) == postmaster.toString)
      .map(f => f(11).toLong + f(12).toLong).sum
    (own + children) * TickNs
  }
}
