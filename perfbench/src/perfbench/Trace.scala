package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, FilterExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One scan node of an executed plan with its SQL metrics. */
final case class ScanInfo(format: String, paths: Seq[String], files: Long, rows: Long,
                          partitions: Long, pages: Long, bytesDecoded: Long, rowsDecoded: Long)

/** One executed query: planning time, scans, and the row counts at the
  * join, generator and point-in-polygon filter boundaries.
  */
final case class ExecInfo(func: String, planMs: Double, scans: Seq[ScanInfo],
                          joinRows: Long, generateRows: Long, pipRows: Long)

/** Task metrics summed over one stage, plus its task durations. */
final class StageAgg {
  var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRecords = 0L; var spill = 0L; var resultBytes = 0L
  var inputBytes = 0L
  var startMs = 0L; var endMs = 0L
  val durations = mutable.ArrayBuffer[Long]()
}

final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
  var end: Long = start
  val execs = mutable.ArrayBuffer[ExecInfo]()
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder and Spark instrumentation for the traced run.
  *
  * Spans wrap every public call the benchmark makes; Spark jobs and
  * stages become child spans of the call that submitted them (through a
  * local property), and each executed query's plan metrics attach to the
  * innermost open span. Everything stays in memory until [[write]].
  * While `active` is false every span is a pass-through and nothing is
  * registered with Spark, so untraced ops pay nothing.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val SpanProp = "perfbench.span"
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private final case class Job(id: Int, span: Int, exec: Long, stageIds: Seq[Int], startMs: Long, var endMs: Long)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val pending = new ConcurrentLinkedQueue[ExecInfo]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs.put(e.jobId, Job(e.jobId, prop(SpanProp).map(_.toInt).getOrElse(-1),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.stageIds, e.time, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageAgg)
      s.synchronized {
        s.startMs = e.stageInfo.submissionTime.getOrElse(0L)
        s.endMs = e.stageInfo.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val s = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.resultBytes += m.resultSize
        s.inputBytes += m.inputMetrics.bytesRead
        s.durations += e.taskInfo.duration
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      pending.add(Trace.describe(func, qe))
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var on = false
  def active: Boolean = on
  def active_=(v: Boolean): Unit = if (v != on) {
    PerfbenchBus.drain(sc)
    if (v) { sc.addSparkListener(listener); spark.listenerManager.register(qeListener) }
    else { sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener) }
    on = v
  }

  /** Runs `f` inside a span named `name` (a module or call name). */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProp, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        PerfbenchBus.drain(sc)
        var e = pending.poll()
        while (e != null) { s.execs += e; e = pending.poll() }
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  def stop(): Unit = active = false

  // --- queries over what was recorded ------------------------------------

  private var childIndex: (Int, Map[Int, Seq[Span]]) = (-1, Map.empty)
  private def children: Map[Int, Seq[Span]] = {
    if (childIndex._1 != spans.size) childIndex = (spans.size, spans.toSeq.groupBy(_.parent))
    childIndex._2
  }

  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Calls named `name` anywhere below `root`. */
  def calls(root: Span, name: String): Seq[Span] = subtree(root).filter(_.name == name)

  def execs(s: Span): Seq[ExecInfo] = subtree(s).flatMap(_.execs)

  private def jobsOf(s: Span): Seq[Job] = {
    val ids = subtree(s).map(_.id).toSet
    jobs.values.asScala.toSeq.filter(j => ids(j.span)).sortBy(_.id)
  }

  /** Stages run by the jobs `s` submitted (skipped stages have no tasks). */
  def stagesOf(s: Span): Seq[StageAgg] =
    jobsOf(s).flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id))).filter(_.tasks > 0)

  def jobCount(s: Span): Int = jobsOf(s).size

  /** The stages of `s`, grouped by the SQL execution that ran them, in
    * execution order. Jobs outside any execution (schema inference on
    * read) are left out.
    */
  def stagesByExecution(s: Span): Seq[Seq[StageAgg]] =
    jobsOf(s).filter(_.exec >= 0).groupBy(_.exec).toSeq.sortBy(_._1).map { case (_, js) =>
      js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id))).filter(_.tasks > 0)
    }

  /** Self time per span name, summed over the trees under `roots`: a
    * span's duration minus the part of it covered by its child spans,
    * Spark jobs and stages included.
    */
  def selfSeconds(roots: Seq[Span]): Map[String, Double] = {
    final case class Node(name: String, start: Long, end: Long, kids: Seq[Node])
    val stageNodes: Map[Int, Node] = stages.asScala.map { case (id, a) =>
      id.intValue -> Node("spark.stage", msToNs(a.startMs), msToNs(a.endMs), Nil)
    }.toMap
    val jobNodes: Map[Int, Seq[Node]] = jobs.values.asScala.toSeq.groupBy(_.span).map { case (sp, js) =>
      sp -> js.map(j => Node("spark.job", msToNs(j.startMs), msToNs(j.endMs),
        j.stageIds.flatMap(stageNodes.get).filter(n => n.end > n.start)))
    }
    def node(s: Span): Node = Node(s.name, s.start, s.end,
      children.getOrElse(s.id, Nil).map(node) ++ jobNodes.getOrElse(s.id, Nil))
    val out = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    def visit(n: Node): Unit = {
      val iv = n.kids.map(k => (math.max(k.start, n.start), math.min(k.end, n.end)))
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      out(n.name) += math.max(0L, n.end - n.start - covered) / 1e9
      n.kids.foreach(visit)
    }
    roots.foreach(s => visit(node(s)))
    out.toMap
  }

  /** Writes every span, job and stage as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      spans.foreach { s =>
        val ex = s.execs.map(e =>
          s"""{"func":"${e.func}","plan_ms":${e.planMs},"join_rows":${e.joinRows},""" +
            s""""generate_rows":${e.generateRows},"pip_rows":${e.pipRows},"scans":[""" +
            e.scans.map(sc => s"""{"format":"${sc.format}","files":${sc.files},"rows":${sc.rows},""" +
              s""""partitions":${sc.partitions},"pages":${sc.pages},"bytes_decoded":${sc.bytesDecoded},""" +
              s""""rows_decoded":${sc.rowsDecoded}}""").mkString(",") + "]}").mkString(",")
        w.write(s"""{"kind":"span","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""start_ns":${s.start - baseNs},"end_ns":${s.end - baseNs},"execs":[$ex]}""")
        w.newLine()
      }
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        w.write(s"""{"kind":"job","id":${j.id},"parent":${j.span},"execution":${j.exec},"start_ns":${msToNs(j.startMs) - baseNs},""" +
          s""""end_ns":${msToNs(j.endMs) - baseNs},"stages":[${j.stageIds.mkString(",")}]}""")
        w.newLine()
      }
      stages.asScala.toSeq.sortBy(_._1.intValue).foreach { case (id, a) =>
        w.write(s"""{"kind":"stage","id":$id,"start_ns":${msToNs(a.startMs) - baseNs},""" +
          s""""end_ns":${msToNs(a.endMs) - baseNs},"tasks":${a.tasks},"cpu_ns":${a.cpuNs},""" +
          s""""gc_ms":${a.gcMs},"shuffle_write_bytes":${a.shuffleWrite},"spill_bytes":${a.spill},""" +
          s""""result_bytes":${a.resultBytes},"input_bytes":${a.inputBytes}}""")
        w.newLine()
      }
    } finally w.close()
  }

  /** Drops everything recorded (after [[write]]). */
  def clear(): Unit = { spans.clear(); stages.clear(); jobs.clear(); pending.clear() }
}

object Trace {
  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Every node of an executed plan, through adaptive wrappers and query
    * stages (a reused exchange is not descended: its scan did not run again).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case c: CommandResultExec     => Seq(c.commandPhysicalPlan)
      case _                        => Nil
    }
    p +: (inner ++ p.children ++ p.subqueries).flatMap(nodes)
  }

  def describe(func: String, qe: QueryExecution): ExecInfo = {
    val all = nodes(qe.executedPlan)
    val scans = all.collect {
      case f: FileSourceScanExec =>
        ScanInfo("parquet", f.relation.location.rootPaths.map(_.toString),
          metric(f, "numFiles"), metric(f, "numOutputRows"), metric(f, "numFiles"), 0, 0, 0)
      case b: BatchScanExec =>
        ScanInfo(b.scan.getClass.getSimpleName, Seq(b.scan.description()),
          b.inputPartitions.size, metric(b, "numOutputRows"), b.inputPartitions.size,
          metric(b, "pagesDecoded"), metric(b, "bytesDecoded"), metric(b, "rowsDecoded"))
    }
    val joinRows = all.filter { n =>
      val c = n.getClass.getSimpleName
      c.endsWith("HashJoinExec") || c == "SortMergeJoinExec"
    }.map(metric(_, "numOutputRows")).sum
    val genRows = all.collect { case g: GenerateExec => metric(g, "numOutputRows") }.sum
    val pipRows = all.collect {
      case f: FilterExec if f.condition.toString.contains("containsWkb") => metric(f, "numOutputRows")
    }.sum
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    ExecInfo(func, planMs, scans, joinRows, genRows, pipRows)
  }
}
