package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A call from the benchmark into one layer. `parent` indexes the enclosing
  * span in the run's span list (-1 for an op's root span). */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: Int)

/** What the Spark listeners saw during one traced op. Callbacks run on the
  * listener-bus thread; the op thread reads the fields only after a drain. */
private final class Capture extends SparkListener with QueryExecutionListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean])
  val jobs = ArrayBuffer.empty[(Long, Long)]
  val phaseIntervals = ArrayBuffer.empty[(Long, Long)]
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val n = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    n("stages") += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    n("tasks") += 1
    if (!info.successful) n("failed_tasks") += 1
    n("task_ms") += info.duration
    stageSubmit.get(e.stageId).foreach(s => n("wait_ms") += math.max(0L, info.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      n("cpu_ns") += m.executorCpuTime
      n("gc_ms") += m.jvmGCTime
      n("input_bytes") += m.inputMetrics.bytesRead
      n("output_bytes") += m.outputMetrics.bytesWritten
      n("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      n("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      n("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** A MERGE lowers to an eager command that runs queries of its own, so
    * every execution reports here; each is counted once. */
  private def record(qe: QueryExecution): Unit = synchronized {
    if (seen.add(qe)) {
      n("query_executions") += 1
      qe.tracker.phases.foreach { case (phase, p) =>
        phaseMs(phase) += p.durationMs
        phaseIntervals += ((p.startTimeMs, p.endTimeMs))
      }
      Try(qe.executedPlan).toOption.iterator.flatMap(Capture.nodes).foreach {
        case f: FileSourceScanExec => f.relation.location match {
          case ix: graft.ops.SnapshotFileIndex =>
            n("scan_files_read") += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
            n("scan_files_total") += ix.totalFiles
          case _ =>
        }
        case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.PagesScan] =>
          n("rows_fetched") += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          n("fetch_failed") += b.metrics.get("fetchFailed").map(_.value).getOrElse(0L)
        case _ =>
      }
    }
  }
}

private object Capture {
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    Iterator.single(p) ++ kids.iterator.flatMap(nodes)
  }
}

/** Spans and counters of the traced run, kept in memory until the run ends.
  *
  * Tracing is per op: `begin` drains the listener bus, registers a fresh
  * [[Capture]] and snapshots the client thread's Hadoop FileSystem counters
  * and the tables' files; `end` takes the matching snapshots, drains and
  * unregisters. Everything except the op itself sits outside its timed
  * window. Ops that are not traced run with no listener registered, which
  * is what the tracing overhead is measured against. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val runStartNs = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  /** One metric map per traced op, in op order. */
  val records = ArrayBuffer.empty[(Int, mutable.LinkedHashMap[String, Double])]

  private var open: List[Int] = Nil
  private var op = -1
  private var capture: Capture = _
  private var counters: mutable.Map[String, Double] = _
  private var roots: Seq[String] = Nil
  private var filesBefore: Map[String, Long] = Map.empty
  private var fsBefore: Array[Long] = _
  private var casBefore, rebasesBefore = 0L
  private var opStartMs = 0L
  private var opStartNs = 0L

  def active: Boolean = op >= 0

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime() - runStartNs, -1L, open.headOption.getOrElse(-1), op)
      open ::= idx
      try body
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime() - runStartNs)
      }
    }

  def add(name: String, v: Double): Unit =
    if (active) counters(name) = counters.getOrElse(name, 0.0) + v

  def begin(opId: Int, tableRoots: Seq[String]): Unit = {
    val sc = spark.sparkContext
    roots = tableRoots
    filesBefore = Tracer.files(roots)
    casBefore = graft.ops.SnapshotTable.casLosses.get()
    rebasesBefore = graft.ops.SnapshotTable.rebases.get()
    PerfbenchBus.drain(sc)
    capture = new Capture
    sc.addSparkListener(capture)
    spark.listenerManager.register(capture)
    counters = mutable.Map.empty
    op = opId
    open = List(spans.length)
    spans += Span("op", System.nanoTime() - runStartNs, -1L, -1, op)
    fsBefore = Tracer.fsStats()
    opStartMs = System.currentTimeMillis()
    opStartNs = System.nanoTime()
  }

  /** Closes the op opened by `begin`; `ok` is false when the op threw. */
  def end(ok: Boolean): Unit = {
    val endNs = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val fsAfter = Tracer.fsStats()
    val root = open.last
    spans(root) = spans(root).copy(endNs = endNs - runStartNs)
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(capture)
    spark.listenerManager.unregister(capture)
    val c = capture
    val wallS = (endNs - opStartNs) / 1e9
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("ok") = if (ok) 1 else 0
    m("wall_s") = wallS
    m("sql.statements") = counters.getOrElse("sql.statements", 0.0)
    m("sql.parse_s") = c.phaseMs("parsing") / 1e3
    m("sql.analysis_s") = c.phaseMs("analysis") / 1e3
    m("catalyst.optimization_s") = c.phaseMs("optimization") / 1e3
    m("catalyst.planning_s") = c.phaseMs("planning") / 1e3
    m("catalyst.query_executions") = c.n("query_executions").toDouble
    val busyS = Tracer.unionMs(c.jobs.toSeq, opStartMs, endMs) / 1e3
    m("exec.jobs") = c.jobs.size.toDouble
    m("exec.stages") = c.n("stages").toDouble
    m("exec.tasks") = c.n("tasks").toDouble
    m("exec.busy_s") = busyS
    m("exec.task_s") = c.n("task_ms") / 1e3
    m("exec.task_cpu_s") = c.n("cpu_ns") / 1e9
    m("exec.sched_wait_s") = c.n("wait_ms") / 1e3
    m("exec.gc_s") = c.n("gc_ms") / 1e3
    Seq("input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
      "spill_bytes", "failed_tasks").foreach(k => m(s"exec.$k") = c.n(k).toDouble)
    m("ops.meta_read_ops") = (fsAfter(0) - fsBefore(0)).toDouble
    m("ops.meta_write_ops") = (fsAfter(1) - fsBefore(1)).toDouble
    m("ops.meta_bytes_read") = (fsAfter(2) - fsBefore(2)).toDouble
    m("ops.meta_bytes_written") = (fsAfter(3) - fsBefore(3)).toDouble
    val added = Tracer.files(roots).filter { case (p, _) => !filesBefore.contains(p) }
    val kinds = added.toSeq.map { case (p, size) => (Tracer.kind(p, roots), p, size) }
    m("ops.commits") = kinds.count { case (k, p, _) =>
      k == "log" && Tracer.ManifestRe.findFirstIn(p).isDefined }.toDouble
    m("ops.data_bytes_written") = kinds.collect { case ("data", _, s) => s }.sum.toDouble
    m("ops.log_bytes_written") = kinds.collect { case (k, _, s) if k != "data" => s }.sum.toDouble
    m("ops.checkpoints") = kinds.collect { case ("checkpoint", p, _) =>
      Tracer.CheckpointRe.findFirstIn(p).getOrElse(p) }.distinct.size.toDouble
    m("ops.cas_losses") = (graft.ops.SnapshotTable.casLosses.get() - casBefore).toDouble
    m("ops.rebases") = (graft.ops.SnapshotTable.rebases.get() - rebasesBefore).toDouble
    m("ops.dv_files") = roots.filter(r => Files.isDirectory(Paths.get(r, "_manifests")))
      .map(r => graft.ops.SnapshotTable.status(spark, r).select("dv_files").head().getLong(0))
      .sum.toDouble
    m("ops.scan_files_read") = c.n("scan_files_read").toDouble
    m("ops.scan_files_total") = c.n("scan_files_total").toDouble
    val opSpans = spans.iterator.filter(s => s.op == op && s.endNs >= 0)
      .toSeq.groupMapReduce(_.name)(s => (s.endNs - s.startNs) / 1e9)(_ + _)
    m("streaming.refresh_s") = opSpans.getOrElse("streaming.refresh", 0.0)
    m("streaming.batches") = counters.getOrElse("streaming.batches", 0.0)
    m("streaming.rows_in") = counters.getOrElse("streaming.rows_in", 0.0)
    m("sources.rows_fetched") = c.n("rows_fetched").toDouble
    m("sources.fetch_failed") = c.n("fetch_failed").toDouble
    m("pipeline.build_s") = opSpans.getOrElse("pipeline.build", 0.0)
    m("ext.docs_in") = counters.getOrElse("ext.docs_in", 0.0)
    m("ext.docs_curated") = counters.getOrElse("ext.docs_curated", 0.0)
    val planned = c.jobs.toSeq ++ c.phaseIntervals.toSeq
    m("driver.gap_s") = math.max(0.0, wallS - Tracer.unionMs(planned, opStartMs, endMs) / 1e3)
    records += ((op, m))
    op = -1
    open = Nil
    capture = null
  }

  /** Per-layer metrics of the run: per-op means over the traced ops that
    * succeeded, with ratios taken over the sums. */
  def summary(overheadS: Double): Seq[(String, Double, String)] = {
    val ok = records.map(_._2).filter(_("ok") == 1.0)
    def sum(k: String): Double = ok.map(_.getOrElse(k, 0.0)).sum
    def mean(k: String): Double = if (ok.isEmpty) 0.0 else sum(k) / ok.size
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    Tracer.layerMetrics.map { case (name, unit) =>
      val v = name match {
        case "exec.slot_util" => ratio(sum("exec.task_s"), sum("exec.busy_s") * cores)
        case "ops.skip_ratio" =>
          if (sum("ops.scan_files_total") > 0)
            1.0 - sum("ops.scan_files_read") / sum("ops.scan_files_total")
          else 0.0
        case "ext.keep_ratio" => ratio(sum("ext.docs_curated"), sum("ext.docs_in"))
        case "trace.overhead_s" => overheadS
        case "trace.ops" => ok.size.toDouble
        case k => mean(k)
      }
      (name, v, unit)
    }
  }
}

object Tracer {
  val ManifestRe = raw"_manifests/manifest-\d+\.json$$".r
  val CheckpointRe = raw"checkpoint-\d+".r

  /** Per-layer metrics printed by a traced run, with their units. Counts,
    * seconds and bytes are means per traced op. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "sql.statements" -> "count", "sql.parse_s" -> "s", "sql.analysis_s" -> "s",
    "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "catalyst.query_executions" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.busy_s" -> "s", "exec.task_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.sched_wait_s" -> "s", "exec.gc_s" -> "s",
    "exec.input_bytes" -> "B", "exec.output_bytes" -> "B",
    "exec.shuffle_read_bytes" -> "B", "exec.shuffle_write_bytes" -> "B",
    "exec.spill_bytes" -> "B", "exec.failed_tasks" -> "count", "exec.slot_util" -> "ratio",
    "ops.meta_read_ops" -> "count", "ops.meta_write_ops" -> "count",
    "ops.meta_bytes_read" -> "B", "ops.meta_bytes_written" -> "B",
    "ops.commits" -> "count", "ops.data_bytes_written" -> "B",
    "ops.log_bytes_written" -> "B", "ops.checkpoints" -> "count",
    "ops.cas_losses" -> "count", "ops.rebases" -> "count", "ops.dv_files" -> "count",
    "ops.scan_files_read" -> "count", "ops.scan_files_total" -> "count",
    "ops.skip_ratio" -> "ratio",
    "streaming.refresh_s" -> "s", "streaming.batches" -> "count", "streaming.rows_in" -> "count",
    "sources.rows_fetched" -> "count", "sources.fetch_failed" -> "count",
    "pipeline.build_s" -> "s",
    "ext.docs_in" -> "count", "ext.docs_curated" -> "count", "ext.keep_ratio" -> "ratio",
    "driver.gap_s" -> "s",
    "trace.overhead_s" -> "s", "trace.ops" -> "count")

  /** Read ops, write ops, bytes read and bytes written of the local
    * filesystem, as counted for the calling thread. */
  def fsStats(): Array[Long] = {
    val ops = CountingLocalFileSystem.ops.get()
    val a = Array(ops(0), ops(1), 0L, 0L)
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").foreach { s =>
        val d = s.getThreadStatistics
        a(2) += d.getBytesRead
        a(3) += d.getBytesWritten
      }
    a
  }

  /** Every regular file under the roots (checksum side files included), by
    * path, with its size. */
  def files(roots: Seq[String]): Map[String, Long] = roots.flatMap { r =>
    val p = Paths.get(r)
    if (!Files.isDirectory(p)) Nil
    else Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map((f: Path) => f.toString -> Files.size(f)).toList
    }
  }.toMap

  def bytesUnder(roots: Seq[String]): Long = files(roots).values.sum

  /** "checkpoint", "log" (manifests and other table metadata) or "data"
    * (data files, CDC files and deletion-vector side-cars). */
  def kind(path: String, roots: Seq[String]): String = {
    val rel = roots.find(r => path.startsWith(r + "/")).map(r => path.drop(r.length + 1))
      .getOrElse(path)
    val parts = rel.split('/')
    if (parts.head == "_manifests")
      if (parts.length > 1 && parts(1).stripPrefix(".").startsWith("checkpoint-")) "checkpoint"
      else "log"
    else if (parts.head.startsWith("_") || parts.head.startsWith("._")) "log"
    else "data"
  }

  /** Length of the union of [start, end] ms intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
