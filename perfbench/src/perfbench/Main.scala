package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.table.InterleavedDocs
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one measuring window.
  *
  *   perfbench.Main --workload <ingest|join_tiles|bbox_serve> --seed <n>
  *                  --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
  *
  * Sets up the workload three times (setup_s is the median), runs the
  * workload's warm-up ops, runs closed-loop ops until the window closes,
  * runs the setup-time engine checks, and prints
  * `PERFBENCH_RESULT {json}` with every metric it measured. With
  * `--trace 1` every other op is traced and the per-layer metrics,
  * microbenches and tracing overhead are reported instead.
  */
object Main {
  val SetupReps = 3
  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - started) / 1e9}%7.2fs $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceMode = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[${Workloads.Cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Workloads.Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log("spark session up")

    val burnStart = Micro.burn()
    val trace = new Trace(spark)
    val w: Workload = name match {
      case "ingest"     => new IngestWorkload(spark, seed, trace)
      case "join_tiles" => new JoinWorkload(spark, seed, trace)
      case "bbox_serve" => new BboxWorkload(spark, seed, trace)
      case other        => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set up several times; in a traced run the middle setup is traced
    val setups = (0 until SetupReps).map { k =>
      val dir = work.resolve(s"setup-$k")
      Workloads.rmTree(dir)
      if (k > 0) Workloads.rmTree(work.resolve(s"setup-${k - 1}"))
      val traced = traceMode && k == 1
      trace.active = traced
      val (t, _) = Workloads.time(trace.span("setup")(w.setup(dir)))
      trace.active = false
      log(f"setup $k: $t%.3f s")
      (t, traced)
    }
    var attempted = 0
    var failed = 0

    def runOp(i: Int, traced: Boolean): (Option[Span], OpResult) = {
      trace.active = traced
      val r = try trace.span("op")(w.op(i, traced))
      catch { case e: Exception =>
        System.err.println(s"op $i failed: $e")
        OpResult(0.0, 0L, ok = false, Map.empty)
      } finally trace.active = false
      attempted += 1
      if (!r.ok) failed += 1
      (if (traced) trace.spans.reverseIterator.find(s => s.name == "op" && s.parent < 0) else None, r)
    }

    (1 to w.warmupOps).foreach(k => runOp(-k, traced = false))
    log("warm-up ops done")
    val ops = mutable.ArrayBuffer[(Option[Span], OpResult)]()
    // the window clock runs only while ops run: side writes add their
    // own time, so the op sample size does not depend on their cost
    val t0 = System.nanoTime()
    var sideNs = 0L
    def elapsed = (System.nanoTime() - t0 - sideNs) / 1e9
    var i = 0
    while (elapsed < seconds) {
      val s0 = System.nanoTime()
      trace.active = traceMode // side writes are traced whole in a traced run
      w.tick(elapsed / seconds)
      trace.active = false
      sideNs += System.nanoTime() - s0
      ops += runOp(i, traceMode && i % 2 == 1)
      log(f"op $i: ${ops.last._2.seconds * 1e3}%.1f ms ${ops.last._2.calls.map(c => f"${c._1}=${c._2}%.3f").mkString(" ")}")
      i += 1
    }
    log(s"window closed after $i ops")
    trace.active = traceMode
    val (da, df) = w.drain()
    trace.active = false
    attempted += da; failed += df
    // after the window, when the paths they share with the ops are warm
    val (sa, sf) = w.setupChecks()
    attempted += sa; failed += sf
    log("setup checks done")
    val burnEnd = Micro.burn()

    val measured = ops.filter(_._2.seconds > 0)
    def e2e(rs: Seq[OpResult], setupS: Double): Map[String, Double] = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> Workloads.median(rs.map(_.seconds * 1e3)),
      "docs_per_s" -> rs.map(_.docs).sum / rs.map(_.seconds).sum,
      "stored_bytes_per_doc" -> w.storedBytesPerDoc)
    val untracedOps = measured.filter(_._1.isEmpty).map(_._2).toSeq
    // a traced run compares its traced setup with the next, equally warm one
    val untracedSetup =
      if (traceMode) setups.last._1 else Workloads.median(setups.map(_._1))
    val plain = e2e(untracedOps, untracedSetup)

    val metrics: Map[String, Double] =
      if (!traceMode) plain + ("peak_rss_mb" -> peakRssMb())
      else {
        val traced = measured.collect { case (Some(s), r) => (s, r) }.toSeq
        val withTrace = e2e(traced.map(_._2), setups.filter(_._2).map(_._1).headOption.getOrElse(0.0))
        val layer = mutable.LinkedHashMap[String, Double]()
        layer ++= w.layers(trace, traced, measured.map(_._2).toSeq)
        layer ++= Workloads.engine(trace, traced.map(_._1))
        layer ++= Micro.run(seed)
        layer("table.parse_s") = parseSeconds(spark, w.source)
        layer("host.burn_start_s") = burnStart
        layer("host.burn_end_s") = burnEnd
        val sideWrites = trace.spans.filter(s => s.parent < 0 && s.name != "op" && s.name != "setup")
        val self = trace.selfSeconds(traced.map(_._1) ++ sideWrites)
        self.foreach { case (k, v) => layer(s"trace.self_ms.$k") = v * 1e3 / traced.size }
        layer("trace.spans") = trace.spans.size.toDouble
        layer("ops.traced") = traced.size.toDouble
        layer("ops.untraced") = untracedOps.size.toDouble
        plain.foreach { case (k, v) => layer(s"trace.overhead.$k") = withTrace(k) - v }
        opt.get("trace-out").foreach(p => trace.write(Paths.get(p)))
        layer("trace.overhead.peak_rss_mb") = retainedMb(() => trace.clear())
        layer.toMap
      }
    log("metrics done")
    trace.stop()
    spark.stop()
    Workloads.rmTree(work.resolve(s"setup-${SetupReps - 1}"))

    System.err.println(f"host.burn_s start=$burnStart%.4f end=$burnEnd%.4f ops=${measured.size}")
    val body = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",")
    println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** Median of three `withGeometry` span parses into the noop sink. */
  private def parseSeconds(spark: SparkSession, src: Path): Double =
    Workloads.median((0 until 3).map { _ =>
      Workloads.time(InterleavedDocs.withGeometry(spark.read.parquet(src.toString))
        .write.format("noop").mode("overwrite").save())._1
    })

  /** This JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** Heap freed by `release`, in MB, measured across full collections. */
  private def retainedMb(release: () => Unit): Double = {
    def used() = {
      System.gc(); System.gc()
      val rt = Runtime.getRuntime; rt.totalMemory() - rt.freeMemory()
    }
    val before = used(); release(); val after = used()
    math.max(0L, before - after) / 1e6
  }
}
