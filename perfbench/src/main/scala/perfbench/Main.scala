package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Runs one workload for a fixed wall time as a
  * closed loop with one client, checks the outputs, and prints one compact
  * JSON line last on stdout:
  *
  *  - `--trace 0`: the end-to-end metrics, with no listener registered;
  *  - `--trace 1`: the per-layer metrics. Even-numbered ops are traced and
  *    odd-numbered ops are not, and the difference of their median
  *    latencies is reported as the tracing overhead.
  *
  * `setup_s` runs from session start to the first timed op: input
  * generation, the program's state and the warm-up ops. Spark runs
  * `local[n]` with n = min(4, cores - 1), leaving a core to the driver
  * thread, the dashboard stream, the JIT and the collector. The full record
  * of the run (every op, span and per-op layer counter, the load average
  * before and after) goes to the `--detail` file. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        sf: Double, work: File, detail: String, corrupt: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("sf").toDouble, new File(need("work")), need("detail"),
      kv.get("corrupt").contains("1"))
  }

  private val threads = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors - 1))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workload.names.contains(a.workload),
      s"unknown workload '${a.workload}' (one of ${Workload.names.mkString(", ")})")
    val load0 = load1m()
    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
    if (a.trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder
      .master(s"local[$threads]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(a.work, "spark-warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val warehouse = new File(a.work, "warehouse").getAbsolutePath
    graft.sql.GraftSql.ensureCatalog(spark, warehouse)
    val w = Workload(a.workload, Ctx(spark, a.work, a.seed, a.sf, warehouse))

    w.setup()
    w.warmUp()
    val setupS = (System.nanoTime() - t0) / 1e9 // the collection below is not set-up
    val heapAfterSetupMb = heapAfterFullGcMb()

    val tracer = new Tracer(spark, threads)
    final case class OpRun(latS: Double, ok: Boolean, traced: Boolean, rows: Long)
    val runs = ArrayBuffer.empty[OpRun]
    // Space is read after the minimum op count, so it does not depend on how
    // many ops the run's time allowed.
    var storedPerRow = 0.0
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while (runs.size < w.minOps || (a.trace && runs.size < 2) || System.nanoTime() < deadline) {
      val i = runs.size
      val traced = a.trace && i % 2 == 0
      if (traced) tracer.begin(i, w.tableRoots)
      val s = System.nanoTime()
      val rows =
        try Some(w.op(tracer))
        catch { case NonFatal(e) => System.err.println(s"perfbench: op $i failed: $e"); None }
      val lat = (System.nanoTime() - s) / 1e9
      if (traced) tracer.end(rows.isDefined)
      runs += OpRun(lat, rows.isDefined, traced, rows.getOrElse(0L))
      if (runs.size == w.minOps) storedPerRow = w.storedBytesPerRow
    }

    val loopEnd = System.nanoTime()
    val heapPeakMb = math.max(heapAfterSetupMb, heapAfterFullGcMb())
    val errors =
      try w.check(a.corrupt)
      catch { case NonFatal(e) => Seq(s"check threw: $e") }
    val checkEnd = System.nanoTime()
    w.close()
    spark.stop()
    val load1 = load1m()
    val phases = Json.obj("setup" -> setupS, "loop" -> ((loopEnd - deadline) / 1e9 + a.seconds),
      "check" -> (checkEnd - loopEnd) / 1e9, "teardown" -> (System.nanoTime() - checkEnd) / 1e9)

    val ok = runs.filter(_.ok)
    val failed = runs.size - ok.size
    val untracedOk = ok.filterNot(_.traced).map(_.latS).toSeq
    val tracedOk = ok.filter(_.traced).map(_.latS).toSeq
    val (tailS, tailPct, beyond) = Stats.tail(ok.map(_.latS).toSeq)
    val timedWall = runs.map(_.latS).sum
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("op_p50_s", Stats.median(ok.map(_.latS).toSeq), "s"),
      ("op_tail_s", tailS, "s"),
      ("rows_per_s", ok.map(_.rows).sum / timedWall, "rows/s"),
      ("stored_bytes_per_row", storedPerRow, "B/row"),
      ("heap_peak_mb", heapPeakMb, "MB"),
      ("setup_s", setupS, "s"))
    val overheadS =
      if (tracedOk.nonEmpty && untracedOk.nonEmpty) Stats.median(tracedOk) - Stats.median(untracedOk)
      else 0.0
    val reported = if (a.trace) tracer.summary(overheadS) else endToEnd
    val correct = errors.isEmpty && ok.nonEmpty

    val detail = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "sf" -> a.sf, "seconds" -> a.seconds,
      "trace" -> a.trace, "threads" -> threads, "clients" -> 1, "loop" -> "closed",
      "load1m_before" -> load0, "load1m_after" -> load1,
      "correct" -> correct, "errors" -> errors,
      "attempted" -> runs.size, "failed" -> failed,
      "failed_ratio" -> failed.toDouble / runs.size,
      "op_tail" -> Json.obj("percentile" -> tailPct, "samples" -> ok.size,
        "samples_beyond" -> beyond),
      "phase_s" -> phases,
      "end_to_end" -> Json.obj(endToEnd.map { case (k, v, u) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "per_layer" -> (if (a.trace) Json.obj(reported.map { case (k, v, u) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*) else Json.obj()),
      "ops" -> runs.zipWithIndex.map { case (r, i) =>
        Json.obj("op" -> i, "lat_s" -> r.latS, "ok" -> r.ok, "traced" -> r.traced, "rows" -> r.rows)
      },
      "op_layers" -> tracer.records.map { case (op, m) =>
        Json.obj(("op" -> (op: Any)) +: m.toSeq.map { case (k, v) => k -> (v: Any) }: _*)
      },
      "spans" -> tracer.spans.map(s => Json.obj("name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op)))
    val detailFile = new File(a.detail)
    Option(detailFile.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    Files.write(detailFile.toPath, detail.json.getBytes(StandardCharsets.UTF_8))

    errors.foreach(e => System.err.println(s"perfbench: INCORRECT: $e"))
    println(f"perfbench: workload=${a.workload} seed=${a.seed} sf=${a.sf} threads=$threads " +
      f"clients=1 ops=${runs.size} failed_ratio=${failed.toDouble / runs.size}%.4f " +
      f"op_tail_s=p$tailPct%.1f of ${ok.size} ($beyond beyond) " +
      f"load1m=$load0%.2f->$load1%.2f detail=${a.detail}" +
      (if (a.trace) f" trace_overhead_s=$overheadS%.4f" else ""))
    println(Json.obj("correct" -> correct, "attempted" -> runs.size, "failed" -> failed,
      "metrics" -> Json.obj(reported.map { case (k, v, u) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def load1m(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  /** Heap in use after a full collection, in MB: the sum of the heap pools'
    * collection usage. Called only outside the timed loop, after set-up and
    * after the last op, so no op but the first starts on a freshly collected
    * heap. The second collection frees what the first one's cleanup released
    * (Spark unpersists blocks of collected RDDs from a reference queue). */
  private def heapAfterFullGcMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The latency at the highest percentile with at least ten samples beyond
    * it: (value, percentile, samples beyond). With ten samples or fewer no
    * percentile qualifies, and the maximum is reported with none beyond. */
  def tail(xs: Seq[Double]): (Double, Double, Int) =
    if (xs.isEmpty) (0.0, 0.0, 0)
    else {
      val s = xs.sorted
      val i = if (s.size > 10) s.size - 11 else s.size - 1
      (s(i), 100.0 * (i + 1) / s.size, s.size - 1 - i)
    }
}

/** Just enough JSON for the result line and the detail file. */
object Json {
  /** Already-encoded JSON. */
  final case class Raw(json: String) {
    override def toString: String = json
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(json) => json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
