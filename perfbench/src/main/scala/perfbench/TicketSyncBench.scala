package perfbench

import java.io.File
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import graft.pipeline.{TicketSync, TicketTransform}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The reference's own job. One op is one sync cycle: fetch a seeded page
  * batch from `ticket-pages`, reshape it with `TicketTransform`, `MERGE
  * INTO` the ticket table (update only when the source row is newer,
  * insert the rest), then drain the standing dashboard subscriber and read
  * the dashboard.
  *
  * Every cycle is the reference job's pull: the 20 newest pages of 100
  * tickets. `ticket-pages` numbers pages oldest-first here, so the window
  * slides up by the cycle's new pages: pages past the high-water mark are
  * new tickets (insert arm), a seeded subset of the re-pulled pages carries
  * a newer update stamp (update arm), and the rest come back unchanged (the
  * update arm must refuse them). Every `failEvery`-th ticket's fetch fails
  * and is dropped by the source. The reference fixes neither the shares of
  * new and updated tickets nor a failure rate; the figures below are
  * assumptions. Because all tickets of a page carry one update stamp, the
  * model below is a page → stamp map, from which the expected table and
  * dashboard follow arithmetically. */
final class TicketSyncBench(ctx: Ctx) extends Workload {
  import ctx.spark

  private val PageSize = 100
  private val PullPages = 20
  private val failEvery = 300 + (math.abs(ctx.seed) % 200).toInt // assumed

  private val ns = "sync"
  private val root = s"${ctx.warehouse}/$ns/tickets"
  private val dashRoot = new File(ctx.work, "dashboard").getAbsolutePath
  private var query: StreamingQuery = _
  private var lastBatch = -1L
  private var cycle = 0
  private var highWater = 0 // pages [0, highWater) have been loaded
  private val pageDelta = mutable.Map.empty[Int, Long]
  private var modelValid = true

  private def deltaOf(cycle: Int): Long = 3600L + 600L * cycle
  private def fails(g: Long): Boolean = g % failEvery == failEvery - 1

  private def pages(lo: Int, hi: Int): DataFrame =
    spark.read.format("ticket-pages")
      .option("pages", hi.toString).option("pageSize", PageSize.toString)
      .option("failEvery", failEvery.toString).load()
      .filter(col("page") >= lo)

  /** Pages [lo, hi) of cycle `k`'s pull, of which the pages from the old
    * high-water mark up are new and `updated` were re-stamped. Depends only
    * on the seed, `k` and the high-water mark, which itself depends only on
    * earlier cycles. */
  private case class Plan(lo: Int, hi: Int, updated: Set[Int])

  private def plan(k: Int): Plan =
    if (highWater == 0) Plan(0, PullPages, Set.empty)
    else {
      val r = Workload.seeded(ctx.seed, k)
      val nNew = 3 + r.nextInt(4) // assumed, as are the 4-8 updated pages
      val lo = highWater + nNew - PullPages
      Plan(lo, highWater + nNew, r.shuffle((lo until highWater).toList).take(4 + r.nextInt(5)).toSet)
    }

  override def setup(): Unit = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    // The reference's bootstrap: an empty, schema-bearing table. Its staging
    // table is a BigQuery load, where every column and nested field is
    // NULLABLE, so the empty staging view carries the nullable schema.
    val schema = TicketTransform.transform(TicketSync.rawTickets(pages(0, 1), lit(3600L))).schema
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
        TicketSyncBench.nullable(schema).asInstanceOf[StructType])
      .createOrReplaceTempView("ticket_boot")
    spark.sql(s"CREATE TABLE graft.$ns.tickets AS SELECT * FROM ticket_boot LIMIT 0")
    query = Streams.mvCdcSink(spark, root, dashRoot, TicketSync.dashboardSpec, "dashboard",
      new File(ctx.work, "dashboard_ckpt").getAbsolutePath,
      startVersion = -1L, maxVersionsPerTrigger = 1).start()
    op(untraced) // the first pull
  }

  private lazy val untraced = new Tracer(spark, 1)

  /** Four cycles: the client-side planning and commit code is most of a
    * cycle and needs several passes to be compiled. After three the first
    * timed op was often the slowest. */
  override def warmUp(): Unit = (1 to 4).foreach(_ => op(untraced))

  override def minOps: Int = 3

  override def op(tr: Tracer): Long = {
    cycle += 1
    val p = plan(cycle)
    val stamp = deltaOf(cycle)
    val stamps = (p.lo until p.hi).map { pg =>
      pg -> (if (pg >= highWater || p.updated(pg)) stamp else pageDelta(pg))
    }.toMap
    modelValid = false
    val batch = tr.span("sources.fetch") { pages(p.lo, p.hi) }
    tr.span("pipeline.build") {
      TicketTransform.transform(TicketSync.rawTickets(batch,
        element_at(typedLit(stamps), col("page"))))
        .createOrReplaceTempView("ticket_batch")
    }
    tr.span("sql.merge") {
      spark.sql(
        s"""MERGE INTO graft.$ns.tickets t
           |USING ticket_batch s
           |ON t._id = s._id
           |WHEN MATCHED AND s.updatedOn > t.updatedOn THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      tr.add("sql.statements", 1)
    }
    tr.span("streaming.refresh") { query.processAllAvailable() }
    val progress = query.recentProgress.filter(_.batchId > lastBatch)
    tr.add("streaming.batches", progress.length)
    tr.add("streaming.rows_in", progress.map(_.numInputRows).sum.toDouble)
    progress.foreach(pr => lastBatch = math.max(lastBatch, pr.batchId))
    tr.span("dashboard.read") { dashboard() }
    pageDelta ++= stamps
    highWater = p.hi
    modelValid = true
    (p.lo.toLong * PageSize until p.hi.toLong * PageSize).count(g => !fails(g)).toLong
  }

  private def dashboard(): Seq[String] =
    TicketSync.dashboardSpec.finish(graft.ops.SnapshotTable.read(spark, dashRoot))
      .select("status", "cnt", "min_created", "max_updated")
      .collect().toSeq.map(Workload.render).sorted

  override def tableRoots: Seq[String] = Seq(root, dashRoot)

  private val readable = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private def fmt(epochS: Long): String = readable.format(Instant.ofEpochSecond(epochS))
  private val statuses = Seq("open", "pending", "resolved", "closed")

  /** (_id, createdOn, updatedOn, status) of every ticket the model holds,
    * from the source's row formula. */
  private def expectedRows: Seq[(String, String, String, String)] =
    for {
      pg <- 0 until highWater
      i <- 0 until PageSize
      g = pg.toLong * PageSize + i
      if !fails(g)
    } yield {
      val created = 1700000000L - g * 60L
      (f"T$g%06d", fmt(created), fmt(created + pageDelta(pg)), statuses((g % 4).toInt))
    }

  override def check(corrupt: Boolean): Seq[String] = {
    if (!modelValid) return Seq("a sync cycle failed midway; the model no longer holds")
    if (corrupt) spark.sql(s"DELETE FROM graft.$ns.tickets WHERE _id = 'T000001'")
    query.processAllAvailable()
    val exp = expectedRows
    val got = spark.sql(s"SELECT _id, createdOn, updatedOn, status FROM graft.$ns.tickets")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    val errs = mutable.ArrayBuffer.empty[String]
    if (got.size != exp.size) errs += s"tickets: ${got.size} rows, expected ${exp.size}"
    val missing = exp.toSet -- got
    if (missing.nonEmpty)
      errs += s"tickets: ${missing.size} expected rows differ or are missing, e.g. ${missing.head}"
    val expDash = exp.groupBy(_._4).toSeq.map { case (st, rs) =>
      Seq(st, rs.size.toString, rs.map(_._2).min, rs.map(_._3).max).mkString("\u0001")
    }.sorted
    val gotDash = dashboard()
    if (gotDash != expDash)
      errs += s"dashboard: got ${gotDash.map(_.replace('\u0001', '|'))}, " +
        s"expected ${expDash.map(_.replace('\u0001', '|'))}"
    errs.toSeq
  }

  override def storedBytesPerRow: Double =
    Tracer.bytesUnder(Seq(root)).toDouble / math.max(1, expectedRows.size)

  override def close(): Unit = if (query != null) query.stop()
}

object TicketSyncBench {
  def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
