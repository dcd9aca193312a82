package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What one span cost: its own wall time plus everything Spark did
  * for the jobs started while it was current. */
final class SpanStats {
  var wallNs = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  /** bytes the JVM read through read(2) while the span ran */
  var readChars = 0L
  /** [launch, finish) of every task, in epoch ms */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** [start, end) of every call of the span, in epoch ms */
  val callIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def wallMs: Double = wallNs / 1e6

  /** Span wall time minus the time at least one task was running:
    * what the driver spent planning, scheduling and waiting. */
  def driverGapMs: Double = {
    val busy = SpanStats.union(taskIntervals.toSeq, callIntervals.toSeq)
    math.max(0.0, wallMs - busy)
  }
}

object SpanStats {
  /** Length of the union of `xs`, clipped to the union of `within`. */
  def union(xs: Seq[(Long, Long)], within: Seq[(Long, Long)]): Double = {
    def merge(ys: Seq[(Long, Long)]): List[(Long, Long)] =
      ys.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
        case (acc, iv) => iv :: acc
      }
    val outer = merge(within)
    merge(xs).iterator.map { case (a, b) =>
      outer.iterator.map { case (s, e) =>
        math.max(0L, math.min(b, e) - math.max(a, s))
      }.sum
    }.sum.toDouble
  }
}

/** A listener that attributes jobs, stages, tasks, bytes, spill, GC
  * and task run intervals to the span that was current (a thread-local
  * Spark property, so threads the program starts inherit it) when
  * each job was submitted. It is added to the session from outside;
  * the program under test does not know about it. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, String]
  val stats = mutable.LinkedHashMap.empty[String, SpanStats]

  def stat(name: String): SpanStats = synchronized {
    stats.getOrElseUpdate(name, new SpanStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Spans.Key))).getOrElse(Spans.Outside)
    stat(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stat(stageSpan.getOrElse(e.stageInfo.stageId, Spans.Outside)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stat(stageSpan.getOrElse(e.stageId, Spans.Outside))
    s.tasks += 1
    val info = e.taskInfo
    if (info != null && info.finishTime > 0)
      s.taskIntervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
    }
  }
}

/** Named spans over one session: `span("middle.resolve") { ... }`. */
final class Spans(spark: SparkSession) {
  val listener = new SpanListener
  spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Spans.Key)
    sc.setLocalProperty(Spans.Key, name)
    val r0 = Spans.readChars()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      val s = listener.stat(name)
      listener.synchronized {
        s.wallNs += dt
        s.readChars += Spans.readChars() - r0
        s.callIntervals += ((w0, w0 + dt / 1000000L))
      }
      sc.setLocalProperty(Spans.Key, prev)
    }
  }

  /** Deliver all pending listener events; call before reading stats. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def get(name: String): SpanStats =
    listener.synchronized(listener.stats.getOrElse(name, new SpanStats))

  /** Every span the harness opened. */
  def all: Seq[SpanStats] = listener.synchronized {
    listener.stats.collect { case (k, v) if k != Spans.Outside => v }.toSeq
  }

  /** Every span whose name starts with `prefix`. */
  def under(prefix: String): Seq[SpanStats] = listener.synchronized {
    listener.stats.collect {
      case (k, v) if k == prefix || k.startsWith(prefix + ".") => v
    }.toSeq
  }
}

object Spans {
  val Key = "perfbench.span"
  /** jobs started while no span was current */
  val Outside = "(outside)"

  /** `rchar` of this process (/proc/self/io), or 0 where absent. */
  def readChars(): Long =
    try {
      val it = scala.io.Source.fromFile("/proc/self/io")
      try it.getLines().collectFirst {
        case l if l.startsWith("rchar:") => l.drop(6).trim.toLong
      }.getOrElse(0L)
      finally it.close()
    } catch { case _: java.io.IOException => 0L }
}
