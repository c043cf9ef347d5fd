package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}

/** What every workload sees: the session, its own scratch directory, the
  * seed that fixes its inputs, the fixture scale factor and the catalog
  * warehouse its graft tables live in. */
final case class Ctx(spark: SparkSession, work: File, seed: Long, sf: Double,
                     warehouse: String)

/** One closed-loop workload: a single client runs `op` back to back. */
trait Workload {
  /** Generates the seeded inputs and builds the program's state from them. */
  def setup(): Unit

  /** Untimed ops after `setup`, so the timed ops run on warm code. */
  def warmUp(): Unit

  /** Fewest timed ops a run makes, so every check has something to check. */
  def minOps: Int = 1

  /** One timed op. Returns the logical input rows it consumed. */
  def op(tr: Tracer): Long

  /** Roots of the graft tables the op reads or writes. */
  def tableRoots: Seq[String]

  /** Correctness check, run after the timed loop. Returns the failures. With
    * `corrupt` set, one result is damaged first, to show the check fails. */
  def check(corrupt: Boolean): Seq[String]

  /** Bytes stored under the workload's tables (or inputs) per live row,
    * read outside the timed windows after `minOps` ops. */
  def storedBytesPerRow: Double

  def close(): Unit = ()
}

object Workload {
  val names: Seq[String] = Seq("ticket_sync", "sql_analytics", "corpus_curation")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ticket_sync" => new TicketSyncBench(ctx)
    case "sql_analytics" => new SqlAnalyticsBench(ctx)
    case "corpus_curation" => new CorpusBench(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** One row as text: fields joined by \u0001, NULL as ∅. */
  def render(r: Row): String =
    r.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("\u0001")

  /** Row count and an order-independent 64-bit hash of a result. */
  def digest(rows: Seq[Row]): (Long, Long) = {
    import scala.util.hashing.MurmurHash3.stringHash
    val h = rows.iterator.map(render).map(s =>
      (stringHash(s, 17).toLong << 32) | (stringHash(s, 31).toLong & 0xffffffffL)).sum
    (rows.size.toLong, h)
  }

  def seeded(seed: Long, salt: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + salt * 7919L + 17L)
}
