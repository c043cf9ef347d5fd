package perfbench

import java.io.File

import scala.collection.mutable

import graft.ext.EndToEnd

/** The LLM-data north star: one op is `EndToEnd.endToEndReport` (ingest
  * gate, exact and near dedup, span cleaning, quality and decontamination
  * gates, mixture, split and packing) over one seeded corpus shard, with
  * the report collected. No table format is involved.
  *
  * The check: a shard's report is byte-identical every time it is computed
  * (warm-up and timed ops), and each report passes the stage invariants
  * below.
  *
  * No program code writes bytes here, so `storedBytesPerRow` is the input
  * shards' parquet per document: a constant of the seed, kept so the metric
  * has a value on every workload. */
final class CorpusBench(ctx: Ctx) extends Workload {
  import ctx.spark

  private val Shards = 4
  private val docsPerShard = math.max(60, (50000 * ctx.sf / Shards).toInt)

  private var dirs: IndexedSeq[String] = IndexedSeq.empty
  private val injected = mutable.Map.empty[Int, Int]
  private var ops = 0
  /** Every report computed, by shard, as rendered rows. */
  private val reports = mutable.Map.empty[Int, mutable.ArrayBuffer[Seq[String]]]

  /** Generates the shards and writes them as parquet: the corpus a curation
    * run starts from. */
  override def setup(): Unit =
    dirs = (0 until Shards).map { j =>
      val (docs, dups) = Fixtures.shard(ctx.seed, j, docsPerShard)
      injected(j) = dups
      val dir = new File(ctx.work, s"corpus/shard$j").getAbsolutePath
      spark.createDataFrame(docs).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      dir
    }

  /** Every shard twice, so every timed report has earlier ones of its shard
    * to be compared with. After four or six reports the timed ops still got
    * 10-20% faster over a run; after eight they were flat. */
  override def warmUp(): Unit = (1 to 2).foreach(_ => dirs.indices.foreach(report))

  private def report(j: Int): Seq[String] = {
    val rows = EndToEnd.endToEndReport(spark, dirs(j)).collect().toSeq.map(Workload.render)
    reports.getOrElseUpdate(j, mutable.ArrayBuffer.empty) += rows
    rows
  }

  override def op(tr: Tracer): Long = {
    val order = Workload.seeded(ctx.seed, 2000L + ops / Shards).shuffle((0 until Shards).toList)
    val j = order(ops % Shards)
    ops += 1
    val rows = tr.span("ext.end_to_end_report") { report(j) }
    tr.add("ext.docs_in", docsPerShard)
    tr.add("ext.docs_curated", rows.map(_.split('\u0001')(2).toLong).sum.toDouble)
    docsPerShard
  }

  override def tableRoots: Seq[String] = Nil

  /** Report rows are (split, source, n_docs, toks_kept, share_ppm, n_bins). */
  private def invariants(j: Int, rows: Seq[String]): Seq[String] = {
    val f = rows.map(_.split('\u0001'))
    val errs = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = errs += s"shard $j: $msg"
    if (f.isEmpty) fail("empty report")
    if (!f.forall(r => Set("train", "val", "test")(r(0)))) fail("unknown split")
    if (!f.forall(r => r(2).toLong >= 1 && r(5).toLong >= 1 && r(3).toLong >= 0))
      fail("a slice with no docs, no bins or negative tokens")
    if (!f.forall(r => r(5).toLong <= r(2).toLong)) fail("a slice with more bins than docs")
    val share = f.groupBy(_(1)).map { case (src, rs) => src -> rs.map(_(4).toLong).distinct }
    if (share.values.exists(_.size != 1)) fail("a source's mixture share differs between splits")
    val total = share.values.map(_.head).sum
    if (total > 1000000L || total < 1000000L - share.size) fail(s"mixture shares sum to $total ppm")
    val curated = f.map(_(2).toLong).sum
    val bound = docsPerShard - 10 - injected(j)
    if (curated > bound)
      fail(s"$curated docs curated, but at most $bound survive the eval split and dedup")
    errs.toSeq
  }

  override def check(corrupt: Boolean): Seq[String] = {
    if (corrupt) reports.values.find(_.size > 1).foreach { rs =>
      val head = rs.last.head.split('\u0001')
      head(2) = (head(2).toLong + 1).toString
      rs(rs.size - 1) = head.mkString("\u0001") +: rs.last.tail
    }
    reports.toSeq.sortBy(_._1).flatMap { case (j, rs) =>
      val distinct = rs.distinct
      (if (distinct.size > 1) Seq(s"shard $j: ${distinct.size} different reports over ${rs.size} runs")
       else Nil) ++ distinct.flatMap(invariants(j, _))
    }
  }

  override def storedBytesPerRow: Double =
    Tracer.bytesUnder(dirs).toDouble / (docsPerShard.toLong * Shards)
}
