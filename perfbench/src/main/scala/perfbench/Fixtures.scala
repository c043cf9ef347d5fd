package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs with the shapes and sizes of the repository's
  * fixture tables (see FIXTURES.md): the TPC-H-ish star schema and the
  * `documents` corpus. Every value is a hash of (seed, column, row id), so
  * one seed always yields the same tables. */
object Fixtures {

  /** Uniform integer in [0, n) for row `id`, independent per `salt`. */
  private def uni(seed: Long, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(n))

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(typedLit(values), (uni(seed, salt, values.size.toLong) + 1).cast("int"))

  /** 1995-01-01 plus `days`, as a timestamp. */
  private def day(days: Column): Column = timestamp_seconds(lit(788918400L) + days * 86400L)

  /** Row counts of the star schema at scale factor `sf`. */
  def starCounts(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> math.max(150L, (150000 * sf).toLong),
    "orders" -> math.max(1500L, (1500000 * sf).toLong),
    "lineitem" -> math.max(6000L, (6000000 * sf).toLong))

  def star(spark: SparkSession, seed: Long, sf: Double): Map[String, DataFrame] = {
    val n = starCounts(sf)
    def rows(t: String): DataFrame = spark.range(n(t)).toDF()
    Map(
      "region" -> rows("region").select(col("id").cast("int").as("r_regionkey"),
        element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> rows("nation").select(col("id").cast("int").as("n_nationkey"),
        format_string("NATION_%02d", col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> rows("customer").select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        uni(seed, 1, 25).cast("int").as("c_nationkey"),
        ((uni(seed, 2, 1100000) - 99999) / 100.0).as("c_acctbal"),
        pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment")),
      "orders" -> rows("orders").select(col("id").as("o_orderkey"),
        uni(seed, 4, n("customer")).as("o_custkey"),
        pick(seed, 5, Seq("O", "F", "P")).as("o_orderstatus"),
        ((uni(seed, 6, 50000000) + 90000) / 100.0).as("o_totalprice"),
        day(uni(seed, 7, 2404)).as("o_orderdate"),
        pick(seed, 8, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> rows("lineitem").select(uni(seed, 9, n("orders")).as("l_orderkey"),
        uni(seed, 10, math.max(200L, (200000 * sf).toLong)).as("l_partkey"),
        uni(seed, 11, math.max(10L, (10000 * sf).toLong)).as("l_suppkey"),
        (uni(seed, 12, 7) + 1).cast("int").as("l_linenumber"),
        (uni(seed, 13, 50) + 1).cast("double").as("l_quantity"),
        ((uni(seed, 14, 10410000) + 90000) / 100.0).as("l_extendedprice"),
        (uni(seed, 15, 11) / 100.0).as("l_discount"),
        (uni(seed, 16, 9) / 100.0).as("l_tax"),
        pick(seed, 17, Seq("A", "N", "R")).as("l_returnflag"),
        pick(seed, 18, Seq("O", "F")).as("l_linestatus"),
        day(uni(seed, 19, 2499)).as("l_shipdate")))
  }

  private val vocab: IndexedSeq[String] = ("a the data row column table key value part line " +
    "order customer query filter join group agg sort hash scan merge window stream batch " +
    "spark vector fast slow big small index page cache shard token commit split bin").split(' ')
    .toIndexedSeq

  /** One corpus shard: (doc_id, text, lang, source, n_chars) rows, ids from
    * 0 (0-9 are the held-out evaluation docs), with about 6% exact
    * duplicates of earlier docs and 6% near duplicates (one word changed)
    * placed within a few ids of their origin, inside the near-dedup window.
    * Returns the rows and the number of injected duplicates. */
  def shard(seed: Long, shard: Int, docs: Int)
      : (Seq[(Long, String, String, String, Long)], Int) = {
    val r = Workload.seeded(seed, 100000L + shard)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    // A near duplicate only counts as injected when its origin is an
    // original doc: an origin that is itself a duplicate may be deduped away.
    val original = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    var injected = 0
    (0 until docs).foreach { id =>
      val u = r.nextDouble()
      val origin = id - 1 - r.nextInt(8)
      val (text, orig) =
        if (id >= 20 && u < 0.06) { injected += 1; (texts(10 + r.nextInt(id - 10)), false) }
        else if (id >= 20 && u < 0.12 && original(origin) &&
            texts(origin).count(_ == ' ') >= 23) {
          injected += 1
          val toks = texts(origin).split(' ')
          val at = r.nextInt(toks.length)
          toks(at) = vocab((vocab.indexOf(toks(at)) + 1 + r.nextInt(vocab.size - 1)) % vocab.size)
          (toks.mkString(" "), false)
        } else (fresh(r), true)
      texts += text
      original += orig
    }
    val langs = Seq("en", "en", "en", "zh", "es", "fr", "de")
    (texts.zipWithIndex.map { case (t, id) =>
      (id.toLong, t, langs(((id * 7 + shard) % langs.size)), s"src${id % 5}", t.length.toLong)
    }.toSeq, injected)
  }

  private def fresh(r: scala.util.Random): String =
    Seq.fill(8 + r.nextInt(83))(vocab(r.nextInt(vocab.size))).mkString(" ")
}
