package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.expr.GraftFunctions.gmTile
import graft.geom.Envelope
import graft.jobs.{Compact, Ingest, Knn, SpatialJoin, Tiles}
import graft.sources.GeoJsonIngest
import graft.table.InterleavedDocs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, input_file_name, lit}

/** One closed-loop op: its latency, the docs it covered, whether its
  * answer checked out, and per-call figures (each public call's latency
  * in seconds; bbox selects add their hit counts).
  */
final case class OpResult(seconds: Double, docs: Long, ok: Boolean, calls: Map[String, Double])

/** A benchmark workload. `setup` builds every input under `dir` from the
  * seed and computes the expected answers; `op` runs one closed-loop op
  * and checks it. `layers` turns the traced ops (spans) and all measured
  * ops (latencies) into per-layer metrics.
  */
trait Workload {
  def setup(dir: Path): Unit
  /** The unclustered parquet source table of the last setup. */
  def source: Path
  /** Setup-time checks run against the engine: (attempted, failed). */
  def setupChecks(): (Int, Int) = (0, 0)
  def op(i: Int, traced: Boolean): OpResult
  /** Untimed ops before the window: op latency drifts down over the
    * first few ops while the JIT compiles the hot paths.
    */
  def warmupOps: Int
  /** Called at the given fraction of the measuring window (side writes). */
  def tick(fraction: Double): Unit = ()
  /** Finishes side work the window left undone: (attempted, failed). */
  def drain(): (Int, Int) = (0, 0)
  def storedBytesPerDoc: Double
  def layers(trace: Trace, traced: Seq[(Span, OpResult)], all: Seq[OpResult]): Map[String, Double]
}

object Workloads {
  /** Docs per generated source table; every op covers all of them. */
  val Docs = 100000
  /** Task threads: one fewer than the host's 4 cores, so the driver,
    * JIT and GC threads do not take cores from running tasks.
    */
  val Cpus = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2 }

  /** The p-quantile, nearest rank. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0)) }

  def time[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Bytes of the regular, non-hidden files under `dir`. */
  def bytesUnder(dir: Path): Long = {
    if (!Files.exists(dir)) return 0L
    val s = Files.walk(dir)
    try s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }

  def rmTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally s.close()
  }

  /** Writes the seeded docs as the unclustered parquet source table. */
  def writeSource(spark: SparkSession, pts: Gen.Points, dir: Path): Unit =
    Gen.docsFrame(spark, pts, 0L, 2 * Cpus).write.option("compression", "zstd").parquet(dir.toString)

  /** The `.geomedea` write shape: props carry the doc id, rows keyed by
    * Hilbert over the batch extent.
    */
  def gmFrame(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val g = InterleavedDocs.withGeometry(docs)
      .select(col("wkb"), col("doc_id"), col("min_lng"), col("min_lat"), col("max_lng"), col("max_lat"))
    Ingest.withHilbert(g, Ingest.extent(g))
      .select(col("wkb"), col("doc_id"), col("hilbert"))
      .as[(Array[Byte], String, Long)]
      .map { case (wkb, id, h) =>
        (wkb, Seq(GeoJsonIngest.toCell("doc", graft.codec.FeatureCodec.PString(id))), h)
      }
      .toDF("wkb", "props", "hilbert")
  }

  def gmWrite(spark: SparkSession, docs: DataFrame, dir: Path, shards: Int): Unit =
    gmFrame(spark, docs).repartitionByRange(shards, col("hilbert").desc)
      .write.format("geomedea").mode("append").save(dir.toString)

  /** Engine counters summed over the given spans' Spark work, per op. */
  def engine(trace: Trace, ops: Seq[Span]): Map[String, Double] = {
    val st = ops.map(trace.stagesOf)
    def per(f: StageAgg => Double): Double = if (ops.isEmpty) 0.0 else st.map(_.map(f).sum).sum / ops.size
    Map(
      "spark.gc_s" -> per(_.gcMs / 1e3), "spark.executor_cpu_s" -> per(_.cpuNs / 1e9),
      "spark.tasks" -> per(_.tasks.toDouble), "spark.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> per(_.spill.toDouble), "spark.driver_result_bytes" -> per(_.resultBytes.toDouble))
  }

  /** max / median task duration of the stage with the most task time. */
  def skew(stages: Seq[StageAgg]): Double =
    if (stages.isEmpty) 0.0 else {
      val s = stages.maxBy(_.durations.sum)
      val m = median(s.durations.map(_.toDouble).toSeq)
      if (m <= 0) 0.0 else s.durations.max / m
    }
}

import Workloads._

/** `ingest`: each op writes the source table twice to fresh directories,
  * once through `Ingest.write` (parquet lake + lineage snapshot) and once
  * through the Hilbert-range-partitioned `.geomedea` v2 writer.
  */
final class IngestWorkload(spark: SparkSession, seed: Long, trace: Trace) extends Workload {
  /** One output file per task thread, as graft.Bench writes one per core. */
  val Partitions: Int = Cpus
  private var dir: Path = _
  private var src: Path = _
  def source: Path = src
  def warmupOps = 4
  private var checksum = 0L
  private val stored = mutable.ArrayBuffer[Double]()
  private val gmStored = mutable.ArrayBuffer[(Double, Double)]()
  private val fileSkew = mutable.ArrayBuffer[Double]()

  def setup(d: Path): Unit = {
    dir = d; src = d.resolve("src")
    writeSource(spark, Gen.points(seed, Docs), src)
    checksum = spark.read.parquet(src.toString).agg(expr("bit_xor(xxhash64(doc_id))")).head().getLong(0)
  }

  def op(i: Int, traced: Boolean): OpResult = {
    val outA = dir.resolve(s"lake-$i"); val outB = dir.resolve(s"gm-$i")
    val (ta, lineage) = time(trace.span("jobs.Ingest.write") {
      Ingest.write(InterleavedDocs.withGeometry(spark.read.parquet(src.toString)), outA.toString, Partitions)
    })
    val (tb, _) = time(trace.span("sources.gm_write") {
      gmWrite(spark, spark.read.parquet(src.toString), outB, Partitions)
    })
    val ok = trace.span("check") { checkLake(lineage, outA) && checkGm(outB) }
    stored += bytesUnder(outA).toDouble / Docs
    // the outputs stay until the run ends: deleting them here would put
    // the filesystem's block freeing inside the measuring window
    OpResult(ta + tb, 2L * Docs, ok, Map("ingest" -> ta, "gm_write" -> tb))
  }

  /** Row count, lineage checksum, descending disjoint Hilbert ranges
    * across files and descending order inside each file.
    */
  private def checkLake(lineage: DataFrame, out: Path): Boolean = {
    val files = lineage.select("file", "rows", "min_hilbert", "max_hilbert", "checksum").collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val rows = files.map(_._2)
    fileSkew += (if (rows.isEmpty) 0.0 else rows.max / median(rows.map(_.toDouble).toSeq))
    val disjoint = files.zip(files.drop(1)).forall { case (a, b) => a._3 > b._4 }
    val xor = files.map(_._5).foldLeft(0L)(_ ^ _)
    import spark.implicits._
    val (n, unordered) = spark.read.parquet(out.resolve("docs").toString)
      .select(input_file_name(), col("hilbert")).as[(String, Long)]
      .mapPartitions { it =>
        val last = mutable.HashMap[String, Long]()
        var n = 0L; var bad = 0L
        it.foreach { case (f, h) =>
          n += 1
          if (last.get(f).exists(_ < h)) bad += 1
          last(f) = h
        }
        Iterator((n, bad))
      }.collect().foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    rows.sum == Docs && n == Docs && xor == checksum && disjoint && unordered == 0
  }

  private def checkGm(out: Path): Boolean = {
    val shards = Files.list(out).filter(_.toString.endsWith(".geomedea")).count()
    gmStored += ((bytesUnder(out).toDouble / Docs, shards.toDouble))
    spark.read.format("geomedea").load(out.toString).count() == Docs && shards >= 1 && shards <= Partitions
  }

  def storedBytesPerDoc: Double = median(stored.toSeq)

  def layers(trace: Trace, traced: Seq[(Span, OpResult)], all: Seq[OpResult]): Map[String, Double] = {
    val writes = traced.flatMap(t => trace.calls(t._1, "jobs.Ingest.write"))
    val gm = traced.flatMap(t => trace.calls(t._1, "sources.gm_write"))
    val srcPath = src.toUri.getPath.stripSuffix("/")
    // The data write reaches the source through an RDD round-trip, which
    // the executed plan shows as an in-memory scan, so source scans are
    // counted as stages that read input files minus the plan-visible
    // scans of the written table.
    def outputScans(s: Span) = trace.execs(s).flatMap(_.scans)
      .count(_.paths.exists(p => !new java.net.URI(p).getPath.startsWith(srcPath)))
    def sourceScans(s: Span) = trace.stagesOf(s).count(_.inputBytes > 0) - outputScans(s)
    // one Ingest.write runs three queries in order: the stats+sample
    // pass, the clustered data write (bucket exchange, then sort+write)
    // and the lineage snapshot read-back and write
    def wall(st: Seq[StageAgg]) =
      if (st.isEmpty) 0.0 else (st.map(_.endMs).max - st.map(_.startMs).min) / 1e3
    def phases(s: Span): (Double, Double, Double, Double) = trace.stagesByExecution(s) match {
      case Seq(stats, data, lineage @ _*) =>
        val (exch, write) = data.partition(_.shuffleWrite > 0)
        (wall(stats), exch.map(a => (a.endMs - a.startMs) / 1e3).sum,
          write.map(a => (a.endMs - a.startMs) / 1e3).sum, wall(lineage.flatten))
      case _ => (0.0, 0.0, 0.0, 0.0)
    }
    val ph = writes.map(phases)
    val opsS = writes.map(w => trace.stagesOf(w))
    Map(
      "ingest_docs_per_s" -> Docs / median(all.map(_.calls("ingest"))),
      "geomedea_write_docs_per_s" -> Docs / median(all.map(_.calls("gm_write"))),
      "jobs.Ingest.source_scans" -> median(writes.map(w => sourceScans(w).toDouble)),
      "jobs.Ingest.output_scans" -> median(writes.map(w => outputScans(w).toDouble)),
      "jobs.Ingest.stats_s" -> median(ph.map(_._1)),
      "jobs.Ingest.exchange_s" -> median(ph.map(_._2)),
      "jobs.Ingest.sort_write_s" -> median(ph.map(_._3)),
      "jobs.Ingest.lineage_s" -> median(ph.map(_._4)),
      "jobs.Ingest.shuffle_write_bytes" -> median(opsS.map(_.map(_.shuffleWrite).sum.toDouble)),
      "jobs.Ingest.spill_bytes" -> median(opsS.map(_.map(_.spill).sum.toDouble)),
      "jobs.Ingest.driver_result_bytes" -> median(opsS.map(_.map(_.resultBytes).sum.toDouble)),
      "jobs.Ingest.file_rows_max_over_median" -> median(fileSkew.toSeq),
      "sources.gm_write_s" -> median(gm.map(_.seconds)),
      "sources.gm_shards" -> median(gmStored.map(_._2).toSeq),
      "sources.gm_bytes_per_doc" -> median(gmStored.map(_._1).toSeq))
  }
}

/** `join_tiles`: each op scans the unclustered source fresh four times,
  * once per job: the nation-rect cell join with a per-(poly, tile) count,
  * the R-tree join against the county polygons, kNN, and a tile pyramid.
  */
final class JoinWorkload(spark: SparkSession, seed: Long, trace: Trace) extends Workload {
  val K = 10
  val Queries = 40
  val MaxZoom = 9
  val Sample = 64
  private var src: Path = _
  def source: Path = src
  def warmupOps = 4
  private var pts: Gen.Points = _
  private val rects = Gen.nationRects()
  private val counties = Gen.counties(seed)
  private val qs = Gen.queries(seed, Queries)
  private var rectsDf: DataFrame = _
  private var countiesDf: DataFrame = _
  private var qDf: DataFrame = _
  private var expTiles: Map[(Long, Long), Long] = _
  private var expCounty: Map[Long, Long] = _
  private var expKnn: Seq[(Long, Int, String, Double)] = _
  private var expBase: Map[Long, Long] = _
  private var srcBytes = 0L

  def setup(d: Path): Unit = {
    src = d.resolve("src")
    pts = Gen.points(seed, Docs)
    writeSource(spark, pts, src)
    srcBytes = bytesUnder(src)
    rectsDf = rects.frame(spark).cache()
    countiesDf = counties.frame(spark).cache()
    import spark.implicits._
    qDf = qs.map(q => (q.id, q.lng, q.lat)).toDF("query_id", "q_lng", "q_lat").cache()
    expTiles = Gen.rectTiles(pts, rects, 6)
    expCounty = Gen.containment(pts, counties, grid = true)
    expKnn = Gen.knn(pts, qs, K)
    expBase = (0 until pts.size).groupBy(i => Gen.tileId(pts.lng(i), pts.lat(i), MaxZoom))
      .map { case (t, is) => t -> is.size.toLong }
  }

  private def docs(): DataFrame = InterleavedDocs.withGeometry(spark.read.parquet(src.toString))

  /** The engine's joins and brute-force references agree with the
    * independent answers on a seeded sample of the docs.
    */
  override def setupChecks(): (Int, Int) = {
    val r = new java.util.SplittableRandom(seed ^ 0x51L)
    val idx = Array.fill(Sample)(r.nextInt(pts.size)).distinct.sorted
    val sample = Gen.Points(idx.map(pts.lng), idx.map(pts.lat))
    val sampleDf = InterleavedDocs.withGeometry(Gen.docsFrame(spark, sample, 0L, 4)).cache()
    def perPoly(df: DataFrame): Map[Long, Long] =
      df.groupBy("poly_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rectAnswer = Gen.containment(sample, rects, grid = false)
    val countyAnswer = Gen.containment(sample, counties, grid = true)
    val knnAnswer = Gen.knn(sample, qs, K)
    def knnRows(df: DataFrame) = df.select(col("query_id"), col("rank").cast("int"), col("doc_id"), col("dist2"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSeq.sorted
    val checks = Seq(
      perPoly(SpatialJoin.cellJoin(sampleDf, rectsDf)) == rectAnswer,
      perPoly(SpatialJoin.bruteForce(sampleDf, rectsDf)) == rectAnswer,
      perPoly(SpatialJoin.rtreeJoin(sampleDf, countiesDf)) == countyAnswer,
      perPoly(SpatialJoin.bruteForce(sampleDf, countiesDf)) == countyAnswer,
      knnRows(Knn.knn(sampleDf, qDf, K)) == knnAnswer.sorted,
      knnRows(Knn.bruteForce(sampleDf, qDf, K)) == knnAnswer.sorted)
    sampleDf.unpersist()
    (checks.size, checks.count(!_))
  }

  def op(i: Int, traced: Boolean): OpResult = {
    val (t1, tiles) = time(trace.span("jobs.SpatialJoin.cellJoin") {
      SpatialJoin.cellJoin(docs(), rectsDf)
        .withColumn("tile_id", gmTile(col("lng"), col("lat"), 6))
        .groupBy("poly_id", "tile_id").agg(count(lit(1)).as("n")).collect()
    })
    val (t2, county) = time(trace.span("jobs.SpatialJoin.rtreeJoin") {
      SpatialJoin.rtreeJoin(docs(), countiesDf).groupBy("poly_id").count().collect()
    })
    val (t3, nn) = time(trace.span("jobs.Knn.knn") {
      Knn.knn(docs(), qDf, K).collect()
    })
    val (t4, pyr) = time(trace.span("jobs.Tiles.pyramid") {
      Tiles.pyramid(docs(), MaxZoom).select("zoom", "tile_id", "n").collect()
    })
    val ok = trace.span("check") {
      val tilesOk = tiles.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap == expTiles
      val countyOk = county.map(r => r.getLong(0) -> r.getLong(1)).toMap == expCounty
      val knnOk = nn.map(r => (r.getAs[Long]("query_id"), r.getAs[Number]("rank").intValue,
        r.getAs[String]("doc_id"), r.getAs[Double]("dist2"))).toSeq.sorted == expKnn.sorted
      val zooms = pyr.groupBy(_.getLong(0)).map { case (z, rs) => z -> rs.map(_.getLong(2)).sum }
      val pyrOk = zooms.size == MaxZoom + 1 && zooms.values.forall(_ == pts.size) &&
        pyr.filter(_.getLong(0) == MaxZoom).map(r => r.getLong(1) -> r.getLong(2)).toMap == expBase
      tilesOk && countyOk && knnOk && pyrOk
    }
    OpResult(t1 + t2 + t3 + t4, 4L * Docs, ok,
      Map("tiles_join" -> t1, "county_join" -> t2, "knn" -> t3, "pyramid" -> t4))
  }

  def storedBytesPerDoc: Double = srcBytes.toDouble / Docs

  def layers(trace: Trace, traced: Seq[(Span, OpResult)], all: Seq[OpResult]): Map[String, Double] = {
    def callsOf(name: String) = traced.flatMap(t => trace.calls(t._1, name))
    val cell = callsOf("jobs.SpatialJoin.cellJoin"); val rtree = callsOf("jobs.SpatialJoin.rtreeJoin")
    val joins = cell ++ rtree
    val knn = callsOf("jobs.Knn.knn"); val pyr = callsOf("jobs.Tiles.pyramid")
    def sumExec(s: Span, f: ExecInfo => Long) = trace.execs(s).map(f).sum.toDouble
    Map(
      "join_docs_per_s" -> all.map(_.docs).sum / all.map(_.seconds).sum,
      "tiles_join_p50_s" -> median(all.map(_.calls("tiles_join"))),
      "county_join_p50_s" -> median(all.map(_.calls("county_join"))),
      "knn_p50_s" -> median(all.map(_.calls("knn"))),
      "pyramid_p50_s" -> median(all.map(_.calls("pyramid"))),
      "jobs.SpatialJoin.candidates_per_doc" -> median(rtree.map(s => sumExec(s, _.generateRows) / Docs)),
      // the PIP predicate runs either as a filter or as the condition of
      // the poly_id join, whose output rows are then the hits
      "jobs.SpatialJoin.pip_hit_ratio" -> median(rtree.map { s =>
        val c = sumExec(s, _.generateRows)
        val hits = if (sumExec(s, _.pipRows) > 0) sumExec(s, _.pipRows) else sumExec(s, _.joinRows)
        if (c == 0) 0.0 else hits / c
      }),
      "jobs.SpatialJoin.task_max_over_median" -> median(joins.map(s => skew(trace.stagesOf(s)))),
      "jobs.SpatialJoin.shuffle_write_bytes" -> median(joins.map(s => trace.stagesOf(s).map(_.shuffleWrite).sum.toDouble)),
      "jobs.Knn.candidate_rows" -> median(knn.map(s => sumExec(s, _.joinRows))),
      "jobs.Knn.spark_jobs" -> median(knn.map(s => trace.jobCount(s).toDouble)),
      "jobs.Tiles.shuffle_rows" -> median(pyr.map(s => trace.stagesOf(s).map(_.shuffleRecords).sum.toDouble)))
  }
}

/** `bbox_serve`: one client issues a seeded stream of bbox selects, each
  * op the same box against the 16-file parquet lake and the 16-shard
  * `.geomedea` lake; beside it a fixed trickle of unsorted appends to the
  * `.geomedea` lake, every second followed by an incremental compaction.
  */
final class BboxWorkload(spark: SparkSession, seed: Long, trace: Trace) extends Workload {
  val LakeFiles = 16
  val Appends = 4
  val AppendDocs = 500
  val CompactEvery = 2
  /** Compaction size target: appended batches sit below its quarter,
    * base shards above it, so incremental compaction merges the appends.
    */
  val TargetShardBytes: Long = 128L << 10
  private var dir: Path = _
  def source: Path = dir.resolve("src")
  def warmupOps = 6
  private var pqDocs: Path = _
  private var gm: Path = _
  private var base: Gen.Points = _
  private var gmPts: Gen.Points = _
  private val boxes = Gen.boxes(seed, 4096)
  private val expectPq = mutable.HashMap[Int, Long]()
  private var appended = 0
  private var attempted = 0
  private var failed = 0
  val appendS = mutable.ArrayBuffer[Double]()
  val compactS = mutable.ArrayBuffer[Double]()
  /** (shards rewritten, rewritten bytes per appended byte, probe files planned before, after) */
  private val compactInfo = mutable.ArrayBuffer[(Double, Double, Double, Double)]()
  private var appendedBytes = 0L

  private def shardSizes(): Map[String, Long] = {
    val s = Files.list(gm)
    try s.filter(_.toString.endsWith(".geomedea")).toArray.map(_.asInstanceOf[Path])
      .map(p => p.getFileName.toString -> Files.size(p)).toMap
    finally s.close()
  }

  def setup(d: Path): Unit = {
    dir = d
    base = Gen.points(seed, Docs)
    gmPts = base
    val src = d.resolve("src")
    writeSource(spark, base, src)
    Ingest.write(InterleavedDocs.withGeometry(spark.read.parquet(src.toString)), d.resolve("pq").toString, LakeFiles)
    pqDocs = d.resolve("pq").resolve("docs")
    gm = d.resolve("gm")
    gmWrite(spark, spark.read.parquet(src.toString), gm, LakeFiles)
    appended = 0; expectPq.clear()
  }

  private def env(b: Gen.Box) = Envelope(b.minLng, b.minLat, b.maxLng, b.maxLat)

  private def selectPq(b: Gen.Box): Long = trace.span("sources.pq_select") {
    SpatialJoin.bboxFilter(spark.read.parquet(pqDocs.toString), env(b)).agg(count(lit(1))).head().getLong(0)
  }

  private def selectGm(b: Gen.Box): Long = trace.span("sources.gm_select") {
    SpatialJoin.bboxFilter(spark.read.format("geomedea").load(gm.toString), env(b))
      .agg(count(lit(1))).head().getLong(0)
  }

  def op(i: Int, traced: Boolean): OpResult = {
    val k = Math.floorMod(i, boxes.size)
    val b = boxes(k)
    // alternate which lake goes first so neither always runs second
    val (tp, np, tg, ng) =
      if (i % 2 == 0) { val p = time(selectPq(b)); val g = time(selectGm(b)); (p._1, p._2, g._1, g._2) }
      else { val g = time(selectGm(b)); val p = time(selectPq(b)); (p._1, p._2, g._1, g._2) }
    val ok = np == expectPq.getOrElseUpdate(k, Gen.countIn(base, b)) && ng == Gen.countIn(gmPts, b)
    OpResult(tp + tg, 2L * Docs, ok, Map("pq" -> tp, "gm" -> tg, "pq_hits" -> np.toDouble, "gm_hits" -> ng.toDouble))
  }

  private val probe = Gen.Box(Gen.HotMinLng + 9000000, Gen.HotMinLat + 9000000,
    Gen.HotMinLng + 10000000, Gen.HotMinLat + 10000000)
  private def gmFilesPlanned(): Long = {
    val p = SpatialJoin.bboxFilter(spark.read.format("geomedea").load(gm.toString), env(probe))
      .queryExecution.executedPlan
    Trace.nodes(p).collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
      b.inputPartitions.size.toLong }.sum
  }

  private def append(): Unit = {
    val r = new java.util.SplittableRandom(seed * 31 + appended)
    val batch = Gen.points(r.nextLong(), AppendDocs)
    val docs = Gen.docsFrame(spark, batch, Docs.toLong + appended.toLong * AppendDocs, 1)
    val before = shardSizes()
    val (t, _) = time(trace.span("sources.gm_append") {
      gmFrame(spark, docs).write.format("geomedea").mode("append").save(gm.toString)
    })
    appendedBytes += shardSizes().filter(e => !before.contains(e._1)).values.sum
    appendS += t
    gmPts = Gen.concat(gmPts, batch)
    appended += 1
    if (appended % CompactEvery == 0) {
      val planned = gmFilesPlanned()
      val shards = shardSizes()
      val (tc, rewritten) = time(trace.span("jobs.Compact.incremental") {
        Compact.incremental(spark, gm.toString, targetShardBytes = TargetShardBytes)
      })
      compactS += tc
      val after = shardSizes()
      val rewrittenBytes = shards.filter(e => !after.contains(e._1)).values.sum
      compactInfo += ((rewritten.toDouble, rewrittenBytes.toDouble / math.max(1L, appendedBytes),
        planned.toDouble, gmFilesPlanned().toDouble))
      appendedBytes = 0L
      attempted += 1
      if (spark.read.format("geomedea").load(gm.toString).count() != gmPts.size) failed += 1
    }
  }

  override def tick(fraction: Double): Unit =
    while (appended < Appends && fraction >= (appended + 0.5) / Appends) append()

  override def drain(): (Int, Int) = {
    while (appended < Appends) append()
    (attempted, failed)
  }

  def storedBytesPerDoc: Double = (bytesUnder(dir.resolve("pq")) + bytesUnder(gm)).toDouble / (2.0 * gmPts.size)

  def layers(trace: Trace, traced: Seq[(Span, OpResult)], all: Seq[OpResult]): Map[String, Double] = {
    def callsOf(name: String) = traced.flatMap(t => trace.calls(t._1, name))
    val pq = callsOf("sources.pq_select"); val gms = callsOf("sources.gm_select")
    def scans(s: Seq[Span]) = s.map(x => trace.execs(x).flatMap(_.scans))
    def med(s: Seq[Span])(f: Seq[ScanInfo] => Double) = median(scans(s).map(f))
    // rows read per row returned, over the traced ops that returned rows
    def perHit(spans: Seq[Span], hitKey: String)(f: Seq[ScanInfo] => Double) =
      median(spans.zip(traced).filter(_._2._2.calls(hitKey) > 0).map { case (s, t) =>
        f(trace.execs(s).flatMap(_.scans)) / t._2.calls(hitKey)
      })
    // the highest percentile with at least ten selects beyond it
    val selects = all.flatMap(r => Seq(r.calls("pq"), r.calls("gm"))).map(_ * 1e3)
    val tailP = math.max(0.5, 1.0 - 10.0 / math.max(1, selects.size))
    Map(
      "bbox_parquet_p50_ms" -> median(all.map(_.calls("pq") * 1e3)),
      "bbox_geomedea_p50_ms" -> median(all.map(_.calls("gm") * 1e3)),
      "bbox_selects" -> selects.size.toDouble,
      "bbox_tail_pct" -> tailP * 100,
      "bbox_tail_ms" -> quantile(selects, tailP),
      "append_p50_ms" -> median(appendS.map(_ * 1e3).toSeq),
      "compact_s" -> compactS.sum,
      "sources.gm_plan_ms" -> median(gms.map(s => trace.execs(s).map(_.planMs).sum)),
      "sources.gm_files_opened" -> med(gms)(_.map(_.partitions).sum.toDouble),
      "sources.gm_pages_decoded" -> med(gms)(_.map(_.pages).sum.toDouble),
      "sources.gm_rows_decoded_per_hit" -> perHit(gms, "gm_hits")(_.map(_.rowsDecoded).sum.toDouble),
      "sources.pq_files_opened" -> med(pq)(_.map(_.files).sum.toDouble),
      "sources.pq_rows_read_per_hit" -> perHit(pq, "pq_hits")(_.map(_.rows).sum.toDouble),
      "sources.pq_bytes_read" -> median(pq.map(s => trace.stagesOf(s).map(_.inputBytes).sum.toDouble)),
      "jobs.Compact.shards_rewritten" -> median(compactInfo.map(_._1).toSeq),
      "jobs.Compact.bytes_rewritten_per_appended_byte" -> median(compactInfo.map(_._2).toSeq),
      "jobs.Compact.files_opened_before" -> median(compactInfo.map(_._3).toSeq),
      "jobs.Compact.files_opened_after" -> median(compactInfo.map(_._4).toSeq))
  }
}
