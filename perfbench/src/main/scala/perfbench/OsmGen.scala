package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.model.{OsmMember, OsmNode, OsmRelation, OsmWay}
import graft.sources.{O5m, OsmPbf}

/** Seeded synthetic OSM extract plus a series of small change files.
  *
  * Shape: nodes clustered around towns, ~4% of them tagged; tag keys
  * drawn from a Zipf-skewed vocabulary; highways that share junction
  * nodes; a few very long ways; closed building and landuse areas;
  * multipolygons with inner rings; route relations, a few of them
  * large. Ids are dense and ascending per type, so the entity arrays
  * are indexed by `id - 1`.
  *
  * Each change is ~`diffSize` objects around one focus point: node
  * moves, tag edits, creates, deletes and one route-member change.
  * Only standalone POI nodes and ways outside any relation are
  * deleted, so no surviving object references a deleted one.
  *
  * The same (seed, nodes, diffs, diffSize) always gives byte-identical
  * files: every choice comes from one `java.util.Random`, and all
  * iteration is over arrays in id order.
  */
final class OsmGen(seed: Long, targetNodes: Int) {
  private val rnd = new java.util.Random(seed)

  val nodes = ArrayBuffer.empty[OsmNode]
  val ways = ArrayBuffer.empty[OsmWay]
  val rels = ArrayBuffer.empty[OsmRelation]
  /** standalone POI node ids: the only nodes a change may delete */
  private val poiIds = ArrayBuffer.empty[Long]
  /** way ids that are relation members: never deleted */
  private val inRelation = scala.collection.mutable.BitSet.empty
  private val highwayIds = ArrayBuffer.empty[Long]
  private val routeIds = ArrayBuffer.empty[Long]

  // a Liechtenstein-sized box
  private val (minLon, maxLon, minLat, maxLat) = (9.47, 9.64, 47.05, 47.27)

  import OsmGen.Town
  /** towns at random places; their spread falls with rank, so the
    * seeds differ in where things are, not in how dense they are */
  private val towns: IndexedSeq[Town] = {
    val n = math.max(4, targetNodes / 6000)
    IndexedSeq.tabulate(n)(i => Town(
      minLon + rnd.nextDouble() * (maxLon - minLon),
      minLat + rnd.nextDouble() * (maxLat - minLat),
      0.013 - 0.01 * i / (n - 1)))
  }
  /** town weights ~ 1/rank: a few big towns, many villages */
  private val townCdf = cdf(towns.indices.map(i => 1.0 / (i + 1)))

  private def cdf(w: Seq[Double]): Array[Double] = {
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  private def pick(c: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(c, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, c.length - 1)
  }
  private def oneOf[T](xs: collection.IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  private def clampLon(x: Double) = math.max(minLon, math.min(maxLon, x))
  private def clampLat(y: Double) = math.max(minLat, math.min(maxLat, y))

  // ---------- tags ----------

  private val commonKeys = IndexedSeq("name", "source", "surface",
    "oneway", "lanes", "maxspeed", "ref", "access", "layer", "bridge",
    "tunnel", "addr:street", "addr:city", "addr:postcode", "operator",
    "note", "created_by", "wheelchair", "opening_hours", "website",
    "lit", "width", "ele", "population", "fixme")
  /** Zipf(1.1) over ~150 keys: the common ones, then a long tail */
  private val extraKeys = commonKeys ++ (1 to 125).map(i => s"k$i")
  private val extraKeyCdf =
    cdf(extraKeys.indices.map(i => 1.0 / math.pow(i + 1, 1.1)))

  private def extraTags(max: Int): Map[String, String] =
    (0 until rnd.nextInt(max + 1)).map { _ =>
      val k = extraKeys(pick(extraKeyCdf))
      k -> (if (k == "name") s"Name ${rnd.nextInt(5000)}"
            else if (k == "layer") (rnd.nextInt(5) - 2).toString
            else s"v${rnd.nextInt(12)}")
    }.toMap

  private val highwayKinds = IndexedSeq("residential", "residential",
    "service", "service", "footway", "track", "unclassified", "path",
    "tertiary", "secondary", "primary", "cycleway", "motorway")
  private val buildingKinds = IndexedSeq("yes", "yes", "yes", "house",
    "residential", "garage", "apartments", "commercial")
  private val areaTags = IndexedSeq("landuse" -> "residential",
    "landuse" -> "farmland", "landuse" -> "forest", "landuse" -> "meadow",
    "natural" -> "wood", "leisure" -> "park", "landuse" -> "grass",
    "natural" -> "water")
  private val poiTags = IndexedSeq("amenity" -> "restaurant",
    "amenity" -> "bench", "shop" -> "bakery", "shop" -> "supermarket",
    "tourism" -> "hotel", "amenity" -> "parking", "place" -> "hamlet",
    "natural" -> "tree", "amenity" -> "school", "historic" -> "memorial")

  // ---------- base construction ----------

  private def newNode(lon: Double, lat: Double,
      tags: Map[String, String] = Map.empty): Long = {
    val id = nodes.size + 1L
    nodes += OsmNode(id, lon = clampLon(lon), lat = clampLat(lat),
      tags = tags)
    id
  }
  private def newWay(refs: Seq[Long], tags: Map[String, String]): Long = {
    val id = ways.size + 1L
    ways += OsmWay(id, nodes = refs, tags = tags)
    id
  }
  private def newRel(members: Seq[OsmMember],
      tags: Map[String, String]): Long = {
    val id = rels.size + 1L
    rels += OsmRelation(id, members = members, tags = tags)
    members.foreach(m => if (m.mtype == "w") inRelation += m.ref.toInt)
    id
  }
  private def townPoint(t: Town): (Double, Double) =
    (t.lon + rnd.nextGaussian() * t.sigma,
      t.lat + rnd.nextGaussian() * t.sigma * 0.7)

  private def ring(cx: Double, cy: Double, r: Double, n: Int): Seq[Long] = {
    val ids = (0 until n).map { i =>
      val a = 2 * math.Pi * i / n
      val rr = r * (0.85 + 0.15 * rnd.nextDouble())
      newNode(cx + rr * math.cos(a), cy + rr * math.sin(a) * 0.7)
    }
    ids :+ ids.head
  }

  private def highway(t: Town, long: Boolean): Long = {
    val start =
      if (t.junctions.nonEmpty && rnd.nextDouble() < 0.6) oneOf(t.junctions)
      else { val (x, y) = townPoint(t); newNode(x, y) }
    val n = if (long) 400 + rnd.nextInt(1200) else 2 + rnd.nextInt(14)
    var (x, y) = (nodes(start.toInt - 1).lon, nodes(start.toInt - 1).lat)
    var heading = rnd.nextDouble() * 2 * math.Pi
    val refs = ArrayBuffer(start)
    for (_ <- 1 until n) {
      heading += rnd.nextGaussian() * 0.3
      x += 0.0004 * math.cos(heading); y += 0.0003 * math.sin(heading)
      val tagged = rnd.nextDouble() < 0.01
      refs += newNode(x, y,
        if (tagged) Map("highway" -> oneOf(IndexedSeq("crossing",
          "traffic_signals", "stop", "street_lamp")))
        else Map.empty)
    }
    if (t.junctions.nonEmpty && rnd.nextDouble() < 0.3) {
      val end = oneOf(t.junctions)
      if (!refs.contains(end)) refs += end
    }
    t.junctions ++= refs.iterator.filter(_ => rnd.nextDouble() < 0.2)
    val tags = Map("highway" -> (if (long) "primary"
      else oneOf(highwayKinds))) ++ extraTags(3)
    val id = newWay(refs.toSeq, tags)
    highwayIds += id
    id
  }

  private def building(t: Town): Long = {
    val (x, y) = townPoint(t)
    val (w, h) = (0.00008 + rnd.nextDouble() * 0.0002,
      0.00006 + rnd.nextDouble() * 0.00015)
    val c = Seq(newNode(x, y), newNode(x + w, y), newNode(x + w, y + h),
      newNode(x, y + h))
    newWay(c :+ c.head, Map("building" -> oneOf(buildingKinds)) ++
      (if (rnd.nextDouble() < 0.3)
        Map("addr:housenumber" -> (1 + rnd.nextInt(200)).toString)
      else Map.empty) ++ extraTags(1))
  }

  private def area(t: Town): Long = {
    val (x, y) = townPoint(t)
    newWay(ring(x, y, 0.001 + rnd.nextDouble() * 0.003,
      6 + rnd.nextInt(11)), Map(oneOf(areaTags)) ++ extraTags(2))
  }

  private def linear(t: Town): Long = {
    val (x0, y0) = townPoint(t)
    val n = 5 + rnd.nextInt(56)
    val h = rnd.nextDouble() * 2 * math.Pi
    val refs = (0 until n).map(i => newNode(
      x0 + i * 0.0005 * math.cos(h) + rnd.nextGaussian() * 0.00005,
      y0 + i * 0.0004 * math.sin(h) + rnd.nextGaussian() * 0.00005))
    newWay(refs, (if (rnd.nextBoolean())
      Map("waterway" -> oneOf(IndexedSeq("stream", "river", "ditch")))
    else Map("railway" -> "rail")) ++ extraTags(2))
  }

  private def multipolygon(t: Town): Long = {
    val (x, y) = townPoint(t)
    val r = 0.002 + rnd.nextDouble() * 0.004
    val outer = newWay(ring(x, y, r, 10 + rnd.nextInt(10)), Map.empty)
    val inners = (0 until 1 + rnd.nextInt(3)).map { i =>
      val a = 2 * math.Pi * i / 3
      newWay(ring(x + 0.45 * r * math.cos(a), y + 0.3 * r * math.sin(a),
        0.18 * r, 5 + rnd.nextInt(5)), Map.empty)
    }
    newRel(OsmMember("w", outer, "outer") +:
      inners.map(OsmMember("w", _, "inner")),
      Map("type" -> "multipolygon", oneOf(areaTags)) ++ extraTags(2))
  }

  private def route(large: Boolean): Long = {
    val n = if (large) 200 + rnd.nextInt(600) else 5 + rnd.nextInt(36)
    val from = rnd.nextInt(highwayIds.size)
    val members = (0 until n).map(i => highwayIds((from + i * 7) %
      highwayIds.size)).distinct.map(OsmMember("w", _, ""))
    val stops = (0 until rnd.nextInt(4)).map(_ =>
      OsmMember("n", poiIds(rnd.nextInt(poiIds.size)), "stop"))
    val id = newRel(members ++ stops, Map("type" -> "route",
      "route" -> oneOf(IndexedSeq("bus", "hiking", "bicycle", "road")),
      "ref" -> (1 + rnd.nextInt(99)).toString) ++ extraTags(1))
    routeIds += id
    id
  }

  /** Build the base extract: ways until ~96% of the node budget is in
    * use, then standalone POIs, then relations over the ways. */
  def buildBase(): this.type = {
    val wayBudget = (targetNodes * 0.96).toInt
    // the kinds of way come in a fixed cycle, so their shares do not
    // vary from seed to seed: of 50, 21 highways, 21 buildings, 4
    // areas, 2 linear ways and 2 multipolygons; every 700th way is a
    // very long highway
    while (nodes.size < wayBudget) {
      val t = towns(pick(townCdf))
      val k = ways.size % 50
      if (ways.size % 700 == 699) highway(t, long = true)
      else if (k < 21) highway(t, long = false)
      else if (k < 42) building(t)
      else if (k < 46) area(t)
      else if (k < 48) linear(t)
      else multipolygon(t)
    }
    // the rest of the budget, at least, as standalone POIs (a long way
    // can overshoot the way budget)
    for (_ <- 0 until math.max(targetNodes - nodes.size,
        targetNodes - wayBudget)) {
      val (x, y) = townPoint(towns(pick(townCdf)))
      poiIds += newNode(x, y, Map(oneOf(poiTags)) ++ extraTags(3))
    }
    // routes: ~1 relation per 11 ways overall, multipolygons included
    val nRoutes = math.max(1, ways.size / 11 - rels.size)
    for (i <- 0 until nRoutes) route(large = i % 33 == 0)
    this
  }

  // ---------- changes ----------

  private def near(lon: Double, lat: Double, fx: Double, fy: Double,
      r: Double) = math.abs(lon - fx) < r && math.abs(lat - fy) < r

  /** One change of ~`size` objects around a random focus point; the
    * state arrays are updated in place (version + 1 per touched
    * object). Returns the changed entities in id order per type. */
  def change(size: Int): (Seq[OsmNode], Seq[OsmWay], Seq[OsmRelation]) = {
    val t = towns(pick(townCdf))
    val (fx, fy) = (t.lon, t.lat)
    val r = t.sigma
    val touchedN = scala.collection.mutable.TreeMap.empty[Long, OsmNode]
    val touchedW = scala.collection.mutable.TreeMap.empty[Long, OsmWay]
    val touchedR = scala.collection.mutable.TreeMap.empty[Long, OsmRelation]
    def putN(n: OsmNode): Unit = { nodes(n.id.toInt - 1) = n; touchedN(n.id) = n }
    def putW(w: OsmWay): Unit = { ways(w.id.toInt - 1) = w; touchedW(w.id) = w }
    def putR(x: OsmRelation): Unit = { rels(x.id.toInt - 1) = x; touchedR(x.id) = x }

    val liveWaysNear = ways.iterator.filter(w => w.visible && {
      val n0 = nodes(w.nodes.head.toInt - 1)
      near(n0.lon, n0.lat, fx, fy, r)
    }).map(_.id).toIndexedSeq
    val wayNodesNear = liveWaysNear.flatMap(w => ways(w.toInt - 1).nodes)
      .distinct.filter(id => nodes(id.toInt - 1).visible)
    val poisNear = poiIds.filter { id =>
      val n = nodes(id.toInt - 1)
      n.visible && near(n.lon, n.lat, fx, fy, r)
    }
    val routeMembersN = rels.iterator.filter(_.visible)
      .flatMap(_.members.filter(_.mtype == "n").map(_.ref)).toSet

    // node moves (~half the change)
    val nMoves = size / 2
    for (_ <- 0 until nMoves if wayNodesNear.nonEmpty) {
      val n = nodes(oneOf(wayNodesNear).toInt - 1)
      putN(n.copy(version = n.version + 1,
        lon = clampLon(n.lon + (rnd.nextDouble() - 0.5) * 0.00002),
        lat = clampLat(n.lat + (rnd.nextDouble() - 0.5) * 0.00002)))
    }
    // tag edits on ways and POIs
    def editTags(tags: Map[String, String]): Map[String, String] =
      rnd.nextInt(3) match {
        case 0 => tags + ("name" -> s"Renamed ${rnd.nextInt(10000)}")
        case 1 if tags.contains("surface") => tags - "surface"
        case _ => tags ++ extraTags(2)
      }
    for (_ <- 0 until size / 6 if liveWaysNear.nonEmpty) {
      val w = ways(oneOf(liveWaysNear).toInt - 1)
      putW(w.copy(version = w.version + 1, tags = editTags(w.tags)))
    }
    for (_ <- 0 until size / 15 if poisNear.nonEmpty) {
      val n = nodes(oneOf(poisNear).toInt - 1)
      if (n.visible)
        putN(n.copy(version = n.version + 1, tags = editTags(n.tags)))
    }
    // creates: POIs and short highways with fresh nodes
    for (_ <- 0 until size / 8) {
      val id = newNode(fx + rnd.nextGaussian() * r / 3,
        fy + rnd.nextGaussian() * r / 3, Map(oneOf(poiTags)))
      poiIds += id
      touchedN(id) = nodes(id.toInt - 1)
    }
    val created = (0 until size / 50).map { _ =>
      val x0 = fx + rnd.nextGaussian() * r / 3
      val y0 = fy + rnd.nextGaussian() * r / 3
      val refs = (0 until 4).map { i =>
        val id = newNode(x0 + i * 0.0003, y0 + i * 0.0002)
        touchedN(id) = nodes(id.toInt - 1)
        id
      }
      val id = newWay(refs, Map("highway" -> oneOf(highwayKinds)))
      highwayIds += id
      touchedW(id) = ways(id.toInt - 1)
      id
    }
    // deletes: standalone POIs no route references, ways outside any
    // relation
    val deletableN = poisNear.filter(id => !routeMembersN.contains(id) &&
      !touchedN.contains(id))
    for (_ <- 0 until size / 20 if deletableN.nonEmpty) {
      val n = nodes(oneOf(deletableN).toInt - 1)
      if (n.visible) putN(n.copy(version = n.version + 1, visible = false))
    }
    val deletableW = liveWaysNear.filter(id => !inRelation(id.toInt))
    for (_ <- 0 until 3 if deletableW.nonEmpty) {
      val w = ways(oneOf(deletableW).toInt - 1)
      if (w.visible) putW(w.copy(version = w.version + 1, visible = false))
    }
    // relation-member change: a route gains the first created way, or
    // drops its last way member
    if (routeIds.nonEmpty) {
      val rel = rels(oneOf(routeIds).toInt - 1)
      val members =
        if (created.nonEmpty && rnd.nextBoolean())
          rel.members :+ OsmMember("w", created.head, "")
        else {
          val i = rel.members.lastIndexWhere(_.mtype == "w")
          if (i > 0) rel.members.patch(i, Nil, 1) else rel.members
        }
      members.foreach(m => if (m.mtype == "w") inRelation += m.ref.toInt)
      putR(rel.copy(version = rel.version + 1, members = members))
    }
    (touchedN.values.toSeq, touchedW.values.toSeq, touchedR.values.toSeq)
  }

  def objects: Long = (nodes.count(_.visible) + ways.count(_.visible) +
    rels.count(_.visible)).toLong
}

object OsmGen {

  private final case class Town(lon: Double, lat: Double, sigma: Double) {
    /** junction candidates: highway node ids inside this town */
    val junctions = ArrayBuffer.empty[Long]
  }

  /** Entities per PBF data block, as in planet extracts. */
  val BlockSize = 8000

  /** PBF of the live entities, one `OsmPbf.encode` per block of
    * [[BlockSize]] same-typed objects, concatenated (each carries its
    * own header blob, which the reader skips). */
  def pbf(g: OsmGen): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    g.nodes.iterator.filter(_.visible).grouped(BlockSize)
      .foreach(c => out.write(OsmPbf.encode(c.toSeq, Nil, Nil)))
    g.ways.iterator.filter(_.visible).grouped(BlockSize)
      .foreach(c => out.write(OsmPbf.encode(Nil, c.toSeq, Nil)))
    g.rels.iterator.filter(_.visible).grouped(BlockSize)
      .foreach(c => out.write(OsmPbf.encode(Nil, Nil, c.toSeq)))
    out.toByteArray
  }

  final case class Files(base: String, diffs: Seq[String],
      finalState: String, baseObjects: Long)

  /** Write `base.pbf`, `diff-NNN.o5c` (applied in order) and
    * `final.pbf` (base with every diff applied) under `dir`. */
  def write(dir: String, seed: Long, nodes: Int, diffs: Int,
      diffSize: Int): Files = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    def put(name: String, bytes: Array[Byte]): String = {
      val p = d.resolve(name)
      java.nio.file.Files.write(p, bytes)
      p.toString
    }
    val g = new OsmGen(seed, nodes).buildBase()
    val base = put("base.pbf", pbf(g))
    val baseObjects = g.objects
    val changes = (1 to diffs).map { i =>
      val (n, w, r) = g.change(diffSize)
      put(f"diff-$i%03d.o5c", O5m.encode(n, w, r, change = true))
    }
    Files(base, changes, put("final.pbf", pbf(g)), baseObjects)
  }

  def sha256(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      .map("%02x".format(_)).mkString

  /** `OsmGen <dir> <seed> <nodes> <diffs> <diffSize>`: write the files
    * and print `name sha256` per file. */
  def main(args: Array[String]): Unit = {
    val f = write(args(0), args(1).toLong, args(2).toInt, args(3).toInt,
      args(4).toInt)
    (f.base +: f.diffs :+ f.finalState).foreach { p =>
      println(s"${java.nio.file.Paths.get(p).getFileName} ${sha256(p)}")
    }
  }
}
