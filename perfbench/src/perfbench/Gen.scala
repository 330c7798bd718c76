package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators plus the independent answers every op is
  * checked against. Nothing here calls into the engine: WKB, point-in-
  * polygon, tile ids and kNN ranks are re-derived from the generated
  * integer coordinates, so an engine defect cannot hide in its own
  * expected answer.
  *
  * Coordinates are scaled ints (1 unit = 1e-7 degree), the engine's own
  * storage unit. 90% of docs fall in a 2x2 degree hot cluster centred on
  * (-118.26, 34.1); the rest spread over the world. Positions come from
  * the seed, never from the doc id.
  */
object Gen {
  val HotMinLng: Int = -1192600000
  val HotMinLat: Int = 331000000
  val HotSpan: Int = 20000000 // 2 degrees
  val HotShare = 0.9

  final case class Points(lng: Array[Int], lat: Array[Int]) {
    def size: Int = lng.length
  }

  def points(seed: Long, n: Int): Points = {
    val r = new SplittableRandom(seed)
    val lng = new Array[Int](n); val lat = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (r.nextDouble() < HotShare) {
        lng(i) = HotMinLng + r.nextInt(HotSpan)
        lat(i) = HotMinLat + r.nextInt(HotSpan)
      } else {
        lng(i) = (r.nextLong(3600000000L) - 1800000000L).toInt
        lat(i) = (r.nextLong(1800000000L) - 900000000L).toInt
      }
      i += 1
    }
    Points(lng, lat)
  }

  def docId(i: Long): String = f"doc-$i%09d"

  // --- WKB, written here rather than by the engine -----------------------

  def pointWkb(lng: Int, lat: Int): Array[Byte] =
    ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
      .put(1.toByte).putInt(1).putDouble(lng / 1e7).putDouble(lat / 1e7).array()

  /** Single-ring polygon; the ring must already be closed. */
  def polygonWkb(ringLng: Array[Int], ringLat: Array[Int]): Array[Byte] = {
    val b = ByteBuffer.allocate(13 + 16 * ringLng.length).order(ByteOrder.LITTLE_ENDIAN)
      .put(1.toByte).putInt(3).putInt(1).putInt(ringLng.length)
    var i = 0
    while (i < ringLng.length) { b.putDouble(ringLng(i) / 1e7).putDouble(ringLat(i) / 1e7); i += 1 }
    b.array()
  }

  private val HexDigits = "0123456789ABCDEF".toCharArray
  def hex(bytes: Array[Byte]): String = {
    val c = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      c(2 * i) = HexDigits((bytes(i) >> 4) & 0xF); c(2 * i + 1) = HexDigits(bytes(i) & 0xF); i += 1
    }
    new String(c)
  }

  // --- InterleavedDocs-shaped source table ---------------------------------

  val SpanType: StructType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType, nullable = false)))
  val DocsSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("spans", ArrayType(SpanType))))

  def docRow(i: Long, lng: Int, lat: Int): Row = Row(docId(i), Seq(
    Row("text", s"synthetic doc body $i", "", 0),
    Row("media", "", s"media://bench/$i", 1),
    Row("geom", "", hex(pointWkb(lng, lat)), 2)))

  /** Docs `idBase + i` at `pts`, as a DataFrame of `slices` partitions. */
  def docsFrame(spark: SparkSession, pts: Points, idBase: Long, slices: Int): DataFrame = {
    val bc = spark.sparkContext.broadcast(pts)
    val rows = spark.sparkContext.parallelize(0 until pts.size, slices).map { i =>
      val p = bc.value
      docRow(idBase + i, p.lng(i), p.lat(i))
    }
    spark.createDataFrame(rows, DocsSchema)
  }

  // --- polygon build sides -------------------------------------------------

  final case class Polys(ids: Array[Long], ringLng: Array[Array[Int]], ringLat: Array[Array[Int]]) {
    def size: Int = ids.length
    def envelope(k: Int): (Int, Int, Int, Int) =
      (ringLng(k).min, ringLat(k).min, ringLng(k).max, ringLat(k).max)
    def wkb(k: Int): Array[Byte] = polygonWkb(ringLng(k), ringLat(k))

    /** The join build-side contract: (poly_id, poly_wkb, p_min/max_lng/lat). */
    def frame(spark: SparkSession): DataFrame = {
      val rows = (0 until size).map { k =>
        val (a, b, c, d) = envelope(k)
        Row(ids(k), wkb(k), a, b, c, d)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
        StructField("poly_id", LongType), StructField("poly_wkb", BinaryType),
        StructField("p_min_lng", IntegerType), StructField("p_min_lat", IntegerType),
        StructField("p_max_lng", IntegerType), StructField("p_max_lat", IntegerType))))
    }
  }

  /** The 25 nation rectangles of graft.Bench's headline join: a 5x5 world grid. */
  def nationRects(): Polys = {
    val ids = Array.tabulate(25)(_.toLong)
    val lngs = ids.map { k =>
      val x0 = (-1800000000L + (k % 5) * 720000000L).toInt; val x1 = (x0 + 720000000L).toInt
      Array(x0, x1, x1, x0, x0)
    }
    val lats = ids.map { k =>
      val y0 = (-900000000L + (k / 5) * 360000000L).toInt; val y1 = (y0 + 360000000L).toInt
      Array(y0, y0, y1, y1, y0)
    }
    Polys(ids, lngs, lats)
  }

  val CountyGrid = 55 // 3025 counties, past the 256-entry per-thread geometry LRU

  /** One star-shaped polygon of 24-96 vertices inside each cell of a
    * CountyGrid x CountyGrid grid over the hot cluster: dense, and
    * non-overlapping because every vertex stays inside its own cell.
    */
  def counties(seed: Long): Polys = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val cell = HotSpan / CountyGrid
    val n = CountyGrid * CountyGrid
    val lngs = new Array[Array[Int]](n); val lats = new Array[Array[Int]](n)
    for (k <- 0 until n) {
      val cx = HotMinLng + (k / CountyGrid) * cell + cell / 2
      val cy = HotMinLat + (k % CountyGrid) * cell + cell / 2
      val nv = 24 + r.nextInt(73)
      val xs = new Array[Int](nv + 1); val ys = new Array[Int](nv + 1)
      for (v <- 0 until nv) {
        val a = 2 * math.Pi * (v + 0.8 * r.nextDouble()) / nv
        val rad = cell / 2 * (0.55 + 0.4 * r.nextDouble())
        xs(v) = cx + (rad * math.cos(a)).toInt
        ys(v) = cy + (rad * math.sin(a)).toInt
      }
      xs(nv) = xs(0); ys(nv) = ys(0)
      lngs(k) = xs; lats(k) = ys
    }
    Polys(Array.tabulate(n)(k => 1000L + k), lngs, lats)
  }

  // --- independent answers -----------------------------------------------

  /** Closed-boundary point in polygon (even-odd crossing, exact integer
    * arithmetic): a point on an edge or vertex is inside.
    */
  def contains(xs: Array[Int], ys: Array[Int], px: Int, py: Int): Boolean = {
    var inside = false
    var i = 0
    while (i < xs.length - 1) {
      val x1 = xs(i).toLong; val y1 = ys(i).toLong
      val x2 = xs(i + 1).toLong; val y2 = ys(i + 1).toLong
      val cross = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
      if (cross == 0 && px >= math.min(x1, x2) && px <= math.max(x1, x2) &&
        py >= math.min(y1, y2) && py <= math.max(y1, y2)) return true
      if ((y1 > py) != (y2 > py)) {
        // x of the edge at py, compared exactly: px < x1 + (py-y1)(x2-x1)/(y2-y1)
        val lhs = (px - x1) * (y2 - y1)
        val rhs = (py - y1) * (x2 - x1)
        if (if (y2 > y1) lhs < rhs else lhs > rhs) inside = !inside
      }
      i += 1
    }
    inside
  }

  /** poly id -> number of points it contains (polygons with none omitted). */
  def containment(pts: Points, polys: Polys, grid: Boolean): Map[Long, Long] = {
    val counts = new Array[Long](polys.size)
    val envs = (0 until polys.size).map(polys.envelope)
    val cell = HotSpan / CountyGrid
    var i = 0
    while (i < pts.size) {
      val x = pts.lng(i); val y = pts.lat(i)
      val candidates =
        if (!grid) 0 until polys.size
        else {
          val gx = (x.toLong - HotMinLng) / cell; val gy = (y.toLong - HotMinLat) / cell
          if (x < HotMinLng || y < HotMinLat || gx >= CountyGrid || gy >= CountyGrid) Nil
          else Seq((gx * CountyGrid + gy).toInt)
        }
      candidates.foreach { k =>
        val (a, b, c, d) = envs(k)
        if (x >= a && x <= c && y >= b && y <= d && contains(polys.ringLng(k), polys.ringLat(k), x, y))
          counts(k) += 1
      }
      i += 1
    }
    (0 until polys.size).filter(counts(_) > 0).map(k => polys.ids(k) -> counts(k)).toMap
  }

  /** Slippy tile id at `zoom` over the scaled-int world (x-major). */
  def tileId(lng: Int, lat: Int, zoom: Int): Long = {
    val per = 1L << zoom
    def clamp(v: Long) = math.max(0L, math.min(per - 1, v))
    val x = clamp((lng.toLong + 1800000000L) / (3600000000L / per))
    val y = clamp((lat.toLong + 900000000L) / (1800000000L / per))
    x * per + y
  }

  /** (poly id, tile id) -> count for the rectangle join + tile count. */
  def rectTiles(pts: Points, rects: Polys, zoom: Int): Map[(Long, Long), Long] = {
    val m = scala.collection.mutable.HashMap[(Long, Long), Long]()
    for (i <- 0 until pts.size; k <- 0 until rects.size) {
      val (a, b, c, d) = rects.envelope(k)
      val x = pts.lng(i); val y = pts.lat(i)
      if (x >= a && x <= c && y >= b && y <= d) {
        val key = (rects.ids(k), tileId(x, y, zoom))
        m(key) = m.getOrElse(key, 0L) + 1
      }
    }
    m.toMap
  }

  final case class Query(id: Long, lng: Int, lat: Int)

  /** Seeded kNN query points, mostly in the hot cluster. */
  def queries(seed: Long, n: Int): Seq[Query] = {
    val r = new SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
    (0 until n).map { q =>
      if (q % 4 != 0) Query(q, HotMinLng + r.nextInt(HotSpan), HotMinLat + r.nextInt(HotSpan))
      else Query(q, (r.nextLong(3600000000L) - 1800000000L).toInt,
        (r.nextLong(1800000000L) - 900000000L).toInt)
    }
  }

  /** Exact k nearest per query: (query_id, rank, doc_id, dist2), ties on
    * doc_id (fixed-width ASCII ids, so string order = binary order).
    */
  def knn(pts: Points, qs: Seq[Query], k: Int): Seq[(Long, Int, String, Double)] =
    qs.flatMap { q =>
      // bounded insertion top-k; index order is doc id order
      val bestD = Array.fill(k)(Double.PositiveInfinity); val bestI = Array.fill(k)(-1)
      var i = 0
      while (i < pts.size) {
        val dx = (pts.lng(i).toLong - q.lng).toDouble; val dy = (pts.lat(i).toLong - q.lat).toDouble
        val d = dx * dx + dy * dy
        if (d < bestD(k - 1)) {
          var j = k - 1
          while (j > 0 && bestD(j - 1) > d) { bestD(j) = bestD(j - 1); bestI(j) = bestI(j - 1); j -= 1 }
          bestD(j) = d; bestI(j) = i
        }
        i += 1
      }
      (0 until k).filter(bestI(_) >= 0).map(r => (q.id, r + 1, docId(bestI(r)), bestD(r)))
    }

  final case class Box(minLng: Int, minLat: Int, maxLng: Int, maxLat: Int)

  /** The select mix: 60% small boxes inside the hot cluster, 25%
    * regional boxes around it, 15% sparse world boxes.
    */
  def boxes(seed: Long, n: Int): IndexedSeq[Box] = {
    val r = new SplittableRandom(seed ^ 0xB0B0B0B0L)
    def box(cx: Long, cy: Long, w: Long, h: Long) = {
      val x0 = math.max(-1800000000L, cx - w / 2); val y0 = math.max(-900000000L, cy - h / 2)
      Box(x0.toInt, y0.toInt, math.min(1800000000L, x0 + w).toInt,
        math.min(900000000L, y0 + h).toInt)
    }
    // every block of 20 boxes holds 12 small, 5 regional and 3 world
    // boxes in seeded order, so any run of ops sees the same class mix
    val block = Array.fill(12)(0) ++ Array.fill(5)(1) ++ Array.fill(3)(2)
    val classes = Iterator.continually {
      for (i <- block.indices.reverse) {
        val j = r.nextInt(i + 1); val t = block(i); block(i) = block(j); block(j) = t
      }
      block.toSeq
    }.flatten.take(n).toIndexedSeq
    classes.map { c =>
      if (c == 0) {
        val w = 500000L + r.nextInt(1500000) // 0.05-0.2 degrees
        box(HotMinLng + r.nextInt(HotSpan), HotMinLat + r.nextInt(HotSpan), w, w)
      } else if (c == 1) {
        val w = 10000000L + r.nextInt(40000000) // 1-5 degrees
        box(HotMinLng + r.nextInt(HotSpan), HotMinLat + r.nextInt(HotSpan), w, w)
      } else {
        val w = 100000000L + r.nextLong(500000000L) // 10-60 degrees
        box(r.nextLong(3600000000L) - 1800000000L, r.nextLong(1800000000L) - 900000000L,
          w, w / 2)
      }
    }
  }

  def countIn(pts: Points, b: Box): Long = {
    var n = 0L; var i = 0
    while (i < pts.size) {
      val x = pts.lng(i); val y = pts.lat(i)
      if (x >= b.minLng && x <= b.maxLng && y >= b.minLat && y <= b.maxLat) n += 1
      i += 1
    }
    n
  }

  def concat(a: Points, b: Points): Points = Points(a.lng ++ b.lng, a.lat ++ b.lat)
}
