package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic inputs, built from Spark expressions over
  * `spark.range`: every value is a hash of (seed, row id, column salt),
  * so the same seed gives the same rows on any run. Shapes follow the
  * TPC-H-like star schema and the documents/embeddings corpus the
  * repository's queries read. */
object DataGen {

  /** Uniform integer in [0, m) for the current row. */
  private def u(seed: Long, salt: Int, m: Long, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(m))

  private def pick(values: Seq[String], seed: Long, salt: Int,
      id: Column = col("id")): Column =
    element_at(array(values.map(lit): _*),
      (u(seed, salt, values.size.toLong, id) + 1).cast("int"))

  /** Midnight of 1992-01-01 UTC plus a seed-chosen day in ~7 years. */
  private def day(seed: Long, salt: Int): Column =
    timestamp_seconds(lit(694224000L) + u(seed, salt, 2526L) * 86400L)

  /** `n` lineitem rows, four lines per order, order keys from 1. */
  private def lineitem(spark: SparkSession, n: Long, seed: Long,
      suppliers: Long): DataFrame = {
    val qty = (u(seed, 3, 50L) + 1).cast("double")
    spark.range(n).select(
      (expr("id div 4") + 1).as("l_orderkey"),
      (u(seed, 1, 20000L) + 1).as("l_partkey"),
      (u(seed, 2, suppliers) + 1).as("l_suppkey"),
      (expr("id % 4") + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * (lit(90000L) + u(seed, 4, 110000L)) / 100.0).as("l_extendedprice"),
      (u(seed, 5, 11L) / 100.0).as("l_discount"),
      (u(seed, 6, 9L) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), seed, 7).as("l_returnflag"),
      pick(Seq("F", "O"), seed, 8).as("l_linestatus"),
      day(seed, 9).as("l_shipdate"))
  }

  /** The 30 words of the sf0.1 documents, which draw each word
    * uniformly from them. */
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  val MinWords = 10
  val MaxWords = 100
  /** Every `NearCopyEvery`-th document is a near copy, every
    * `ExactCopyEvery`-th an exact copy: 250 and 8 of 5000, as at sf0.1. */
  val NearCopyEvery = 20
  val ExactCopyEvery = 625

  /** `n` documents shaped like the sf0.1 corpus: 10 to 100 words
    * (uniform) from a 30-word vocabulary, a near copy (an earlier
    * document's text plus " dup") every 20th, an exact copy of an
    * earlier document every 625th, 40% `en` and 15% each of
    * `zh`/`es`/`fr`/`de`, and 20 round-robin sources. The copied
    * document is drawn at random among the originals before it. */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val i = col("id")
    val near = i % NearCopyEvery === NearCopyEvery - 1
    val exact = i % ExactCopyEvery === ExactCopyEvery - 1
    // a random earlier id, moved off a copy onto the original before it
    // (for either kind of copy, the id before it is an original)
    val earlier = u(seed, 3, Long.MaxValue) % greatest(i, lit(1L))
    val base = when(near || exact, when(
      earlier % NearCopyEvery === NearCopyEvery - 1 ||
        earlier % ExactCopyEvery === ExactCopyEvery - 1, earlier - 1)
      .otherwise(earlier)).otherwise(i)
    val words = transform(
      sequence(lit(1L), u(seed, 1, MaxWords - MinWords + 1L, base) + MinWords),
      j => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), base, j), lit(Vocab.size.toLong)) + 1)
          .cast("int")))
    val text = when(near, concat(concat_ws(" ", words), lit(" dup")))
      .otherwise(concat_ws(" ", words))
    val langs = Seq.fill(8)("en") ++ Seq("zh", "es", "fr", "de").flatMap(Seq.fill(3)(_))
    spark.range(n).select(i.as("doc_id"), text.as("text"),
      pick(langs, seed, 2).as("lang"),
      concat(lit("src"), (i % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `n` 64-dimensional float embeddings shaped like sf0.1's: Gaussian
    * components (Box-Muller over two hashes) scaled to unit L2 norm, and
    * labels 0 to 9. */
  def embeddings(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val scale = 1L << 24
    def unit(d: Column, salt: Int) =
      (pmod(xxhash64(lit(seed), col("id"), d, lit(salt)), lit(scale)) + 1) /
        scale.toDouble
    val gauss = transform(sequence(lit(0L), lit(63L)), d =>
      sqrt(log(unit(d, 1)) * -2.0) * cos(unit(d, 2) * (2 * math.Pi)))
    spark.range(n).select(col("id").as("vec_id"), gauss.as("g"),
        u(seed, 3, 10L).cast("int").as("label"))
      .select(col("vec_id"), transform(col("g"), x => (x / sqrt(
        aggregate(col("g"), lit(0.0), (acc, y) => acc + y * y)))
        .cast("float")).as("embedding"), col("label"))
  }

  private val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA",
    "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN",
    "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
    "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")

  /** The star-schema tables `q5_nation_revenue` joins, `orders` orders
    * with four lines each. */
  def starSchema(spark: SparkSession, orders: Long, customers: Long,
      suppliers: Long, seed: Long): Map[String, DataFrame] = {
    import spark.implicits._
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, k) => (k, n) }.toDF("r_regionkey", "r_name")
    val nation = Nations.zipWithIndex.map { case (n, k) => (k, n, k % 5) }
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val supplier = spark.range(suppliers).select(
      (col("id") + 1).as("s_suppkey"),
      concat(lit("Supplier#"), col("id").cast("string")).as("s_name"),
      u(seed, 11, 25L).cast("int").as("s_nationkey"),
      (u(seed, 12, 1000000L) / 100.0).as("s_acctbal"))
    val customer = spark.range(customers).select(
      (col("id") + 1).as("c_custkey"),
      concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
      u(seed, 13, 25L).cast("int").as("c_nationkey"),
      (u(seed, 14, 1000000L) / 100.0).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), seed, 15).as("c_mktsegment"))
    val order = spark.range(orders).select(
      (col("id") + 1).as("o_orderkey"),
      (u(seed, 16, customers) + 1).as("o_custkey"),
      pick(Seq("F", "O", "P"), seed, 17).as("o_orderstatus"),
      (u(seed, 18, 50000000L) / 100.0).as("o_totalprice"),
      day(seed, 19).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        seed, 20).as("o_orderpriority"))
    Map("region" -> region, "nation" -> nation, "supplier" -> supplier,
      "customer" -> customer, "orders" -> order,
      "lineitem" -> lineitem(spark, orders * 4, seed, suppliers))
  }
}
