package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Row

/** The analyst side of the warehouse. Set-up writes the seeded star schema
  * as raw parquet, copies it into graft tables with CTAS (orders and
  * lineitem range-clustered on their keys), then deletes a seeded slice of
  * lineitem (small enough for the deletion-vector route) and updates a
  * seeded slice of orders, so reads cross deletion vectors and a
  * multi-version log. One op is one statement with its result collected.
  *
  * Statements come from a fixed template mix, a seeded permutation of the
  * templates per round, each with one of three seeded parameter values.
  * Every result is checked against the same statement over the raw parquet,
  * where the set-up's DELETE and UPDATE are written as a filter and a CASE.
  */
final class SqlAnalyticsBench(ctx: Ctx) extends Workload {
  import ctx.spark

  private val DelMod = 61
  private val UpdMod = 89
  private val delRem = (math.abs(ctx.seed) % DelMod).toInt
  private val updRem = (math.abs(ctx.seed / 7) % UpdMod).toInt
  private val counts = Fixtures.starCounts(ctx.sf)
  private val tables = Seq("region", "nation", "customer", "orders", "lineitem")

  private val ns = "analytics"
  private var liveLineitem = 0L
  private var ops = 0
  /** Results of the timed ops: template, parameter, rendered statement and rows. */
  private val results = mutable.ArrayBuffer.empty[(Int, Int, String, Seq[Row])]

  /** A statement template over table names given by `t` (current version)
    * and `t0` (version 0), with the base-table rows its scans cover. */
  private case class Template(name: String, sql: (String => String, String => String, Int) => String,
                              baseRows: () => Long)

  private val shipCut = Seq("1997-06-30", "1999-12-31", "2001-06-30")
  private val starFrom = Seq("1995-07-01", "1997-01-01", "1999-04-01")
  private val statusOf = Seq("O", "F", "P")

  private val templates: IndexedSeq[Template] = IndexedSeq(
    Template("scan_aggregate", (t, _, p) =>
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty,
         |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS base_price,
         |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS disc_price
         |FROM ${t("lineitem")} WHERE l_shipdate <= TIMESTAMP '${shipCut(p)}'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      () => liveLineitem),
    Template("star_join", (t, _, p) =>
      s"""SELECT n_name, count(*) AS n,
         |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS revenue
         |FROM ${t("lineitem")} l JOIN ${t("orders")} o ON l.l_orderkey = o.o_orderkey
         |JOIN ${t("customer")} c ON o.o_custkey = c.c_custkey
         |JOIN ${t("nation")} n ON c.c_nationkey = n.n_nationkey
         |WHERE o.o_orderdate >= TIMESTAMP '${starFrom(p)}'
         |  AND o.o_orderdate < TIMESTAMP '${starFrom(p)}' + INTERVAL 6 MONTHS
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
      () => liveLineitem + counts("orders") + counts("customer") + counts("nation")),
    Template("top_n_per_group", (t, _, p) =>
      s"""SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
         |  SELECT o_orderpriority, o_orderkey, o_totalprice,
         |    row_number() OVER (PARTITION BY o_orderpriority
         |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM ${t("orders")} WHERE o_orderstatus = '${statusOf(p)}') r
         |WHERE rn <= 5 ORDER BY o_orderpriority, rn""".stripMargin,
      () => counts("orders")),
    Template("distinct_keys", (t, _, p) => {
      val w = counts("orders") / 8
      s"""SELECT DISTINCT l_orderkey FROM ${t("lineitem")}
         |WHERE l_orderkey >= ${p * 3 * w} AND l_orderkey < ${(p * 3 + 1) * w}""".stripMargin
    }, () => liveLineitem),
    Template("point_probe", (t, _, p) =>
      s"SELECT * FROM ${t("orders")} WHERE o_orderkey = ${probeKeys(p)}",
      () => counts("orders")),
    Template("version_as_of", (_, t0, p) =>
      s"""SELECT l_linenumber, count(*) AS n, sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty
         |FROM ${t0("lineitem")} WHERE l_shipdate >= TIMESTAMP '${shipCut(p)}' - INTERVAL 2 YEARS
         |GROUP BY l_linenumber ORDER BY l_linenumber""".stripMargin,
      () => counts("lineitem")),
    Template("describe_history", (_, _, _) => s"DESCRIBE HISTORY graft.$ns.lineitem", () => 0L),
    Template("describe_detail", (_, _, _) => s"DESCRIBE DETAIL graft.$ns.orders", () => 0L))

  private lazy val probeKeys: IndexedSeq[Long] = {
    val r = Workload.seeded(ctx.seed, 31)
    IndexedSeq.fill(3)((r.nextLong() & Long.MaxValue) % counts("orders"))
  }

  private def graftName(t: String) = s"graft.$ns.$t"
  private def graftV0(t: String) = s"graft.$ns.$t VERSION AS OF 0"
  private def refName(t: String) = s"ref_$t"
  private def rawName(t: String) = s"raw_$t"

  override def setup(): Unit = {
    val raw = new File(ctx.work, "raw").getAbsolutePath
    Fixtures.star(spark, ctx.seed, ctx.sf).foreach { case (t, df) =>
      df.write.parquet(s"$raw/$t")
      spark.read.parquet(s"$raw/$t").createOrReplaceTempView(rawName(t))
    }
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    tables.foreach { t =>
      val cluster = Map("orders" -> " CLUSTER BY (o_orderkey)",
        "lineitem" -> " CLUSTER BY (l_orderkey)").getOrElse(t, "")
      spark.sql(s"CREATE TABLE ${graftName(t)}$cluster AS SELECT * FROM ${rawName(t)}")
    }
    spark.sql(s"DELETE FROM ${graftName("lineitem")} WHERE l_orderkey % $DelMod = $delRem")
    spark.sql(
      s"""UPDATE ${graftName("orders")} SET o_orderpriority = '1-URGENT'
         |WHERE o_orderkey % $UpdMod = $updRem""".stripMargin)
    // The same state over the raw parquet: the DML as a filter and a CASE.
    spark.sql(s"""CREATE OR REPLACE TEMP VIEW ${refName("lineitem")} AS
                 |SELECT * FROM ${rawName("lineitem")}
                 |WHERE NOT (l_orderkey % $DelMod = $delRem)""".stripMargin)
    spark.sql(s"""CREATE OR REPLACE TEMP VIEW ${refName("orders")} AS
                 |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                 |  CASE WHEN o_orderkey % $UpdMod = $updRem THEN '1-URGENT'
                 |       ELSE o_orderpriority END AS o_orderpriority
                 |FROM ${rawName("orders")}""".stripMargin)
    Seq("region", "nation", "customer").foreach(t =>
      spark.sql(s"CREATE OR REPLACE TEMP VIEW ${refName(t)} AS SELECT * FROM ${rawName(t)}"))
    liveLineitem = spark.table(refName("lineitem")).count()
  }

  override def warmUp(): Unit =
    templates.foreach(t => spark.sql(t.sql(graftName, graftV0, 0)).collect())

  override def minOps: Int = templates.size

  override def op(tr: Tracer): Long = {
    val round = ops / templates.size
    val order = Workload.seeded(ctx.seed, 1000L + round).shuffle(templates.indices.toList)
    val ti = order(ops % templates.size)
    val param = Workload.seeded(ctx.seed, 5000L + ops).nextInt(3)
    ops += 1
    val tpl = templates(ti)
    val sql = tpl.sql(graftName, graftV0, param)
    val rows = tr.span(s"sql.${tpl.name}") {
      tr.add("sql.statements", 1)
      spark.sql(sql).collect().toSeq
    }
    results += ((ti, param, sql, rows))
    tpl.baseRows()
  }

  override def tableRoots: Seq[String] = tables.map(t => s"${ctx.warehouse}/$ns/$t")

  override def check(corrupt: Boolean): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val recorded =
      if (!corrupt) results.toSeq
      else {
        val i = results.indexWhere(r => templates(r._1).baseRows() > 0 && r._4.nonEmpty)
        results.toSeq.updated(i, results(i).copy(_4 = results(i)._4.drop(1)))
      }
    val expected = mutable.Map.empty[(Int, Int), (Long, Long)]
    recorded.foreach { case (ti, p, sql, rows) =>
      templates(ti).name match {
        case "describe_history" =>
          val versions = rows.map(_.getAs[Long]("version")).sorted
          val total = rows.map(r => r.getAs[Long]("version") -> r.getAs[Long]("total_rows")).toMap
          if (versions != Seq(0L, 1L) || total.get(0L).contains(counts("lineitem")) == false ||
              total.get(1L).contains(liveLineitem) == false)
            errs += s"$sql: versions $versions with rows $total, expected 0 -> " +
              s"${counts("lineitem")} and 1 -> $liveLineitem"
        case "describe_detail" =>
          val r = rows.head
          if (rows.size != 1 || r.getAs[Long]("version") != 1L ||
              r.getAs[Long]("total_rows") != counts("orders") || r.getAs[Long]("num_files") <= 0)
            errs += s"$sql: got ${rows.map(Workload.render)}, expected version 1 with " +
              s"${counts("orders")} rows"
        case _ =>
          val want = expected.getOrElseUpdate((ti, p), Workload.digest(
            spark.sql(templates(ti).sql(refName, rawName, p)).collect().toSeq))
          val got = Workload.digest(rows)
          if (got != want) errs += s"$sql: (rows, hash) $got, expected $want over raw parquet"
      }
    }
    errs.toSeq
  }

  override def storedBytesPerRow: Double =
    Tracer.bytesUnder(tableRoots).toDouble /
      (liveLineitem + counts.filter(_._1 != "lineitem").values.sum)
}
