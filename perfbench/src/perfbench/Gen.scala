package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic inputs with the schemas of the engine's test
  * tables (TESTDATA.md): the TPC-H-ish star schema, the `events` stream
  * table, and the `documents` / `embeddings` corpus.
  *
  * Every value is a pure function of (data seed, row id, column salt)
  * through `xxhash64`, never of `rand()`, so the same seed writes the
  * same rows at any partitioning and any core count. Timestamps are
  * written as TIMESTAMP_NTZ, the physical type the engine's loaders and
  * the DuckDB oracle expect.
  */
final class Gen(spark: SparkSession, seed: Long) {

  private def hash(salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform in [0, 1). */
  def uni(salt: Int, cols: Column*): Column =
    pmod(hash(salt, cols: _*), lit(1L << 40)).cast("double") / lit((1L << 40).toDouble)

  /** Standard normal (Box-Muller over two uniforms). */
  private def gauss(salt: Int, cols: Column*): Column =
    sqrt(lit(-2.0) * log(lit(1.0) - uni(salt, cols: _*))) *
      cos(lit(2 * math.Pi) * uni(salt + 1, cols: _*))

  private def pick(values: Seq[String], u: Column): Column =
    element_at(array(values.map(lit): _*), (floor(u * values.size) + 1).cast("int"))

  private def ntzDays(from: String, days: Column): Column =
    date_add(to_date(lit(from)), days.cast("int")).cast("timestamp_ntz")

  private def ids(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()

  def region: DataFrame = ids(5).select(
    col("id").cast("int").as("r_regionkey"),
    pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
      col("id") / 5.0).as("r_name"))

  def nation: DataFrame = ids(25).select(
    col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
    (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(n: Long): DataFrame = ids(n).select(
    col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    floor(uni(1, col("id")) * 25).cast("int").as("c_nationkey"),
    round(uni(2, col("id")) * 11000 - 1000, 2).as("c_acctbal"),
    pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
      uni(3, col("id"))).as("c_mktsegment"))

  def supplier(n: Long): DataFrame = ids(n).select(
    col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    floor(uni(4, col("id")) * 25).cast("int").as("s_nationkey"),
    round(uni(5, col("id")) * 11000 - 1000, 2).as("s_acctbal"))

  def part(n: Long): DataFrame = ids(n).select(
    col("id").as("p_partkey"),
    concat(pick(Seq("small", "large", "hot", "cold", "blue", "old", "red", "shiny"),
      uni(6, col("id"))), lit(" "),
      pick(Seq("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"),
        uni(7, col("id")))).as("p_name"),
    concat(lit("Brand#"), (floor(uni(8, col("id")) * 25) + 1).cast("string")).as("p_brand"),
    pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
      uni(9, col("id"))).as("p_type"),
    (floor(uni(10, col("id")) * 50) + 1).cast("int").as("p_size"),
    round(lit(900.0) + floor(uni(11, col("id")) * 1000) / 10.0, 1).as("p_retailprice"))

  def orders(n: Long, nCust: Long): DataFrame = ids(n).select(
    col("id").as("o_orderkey"),
    floor(uni(12, col("id")) * nCust).cast("long").as("o_custkey"),
    pick(Seq("F", "O", "P"), uni(13, col("id"))).as("o_orderstatus"),
    round(uni(14, col("id")) * 499000 + 1000, 2).as("o_totalprice"),
    ntzDays("1995-01-01", floor(uni(15, col("id")) * 2404)).as("o_orderdate"),
    pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
      uni(16, col("id"))).as("o_orderpriority"))

  /** One to seven lines per order; ships 1–120 days after the order. */
  def lineitem(orders: DataFrame, nPart: Long, nSupp: Long): DataFrame = {
    val k = col("o_orderkey")
    val ln = col("l_linenumber")
    val qty = (floor(uni(20, k, ln) * 50) + 1).cast("double")
    orders
      .select(k, col("o_orderdate"),
        explode(sequence(lit(1), (floor(uni(19, k) * 7) + 1).cast("int"))).as("l_linenumber"))
      .select(
        k.as("l_orderkey"),
        floor(uni(21, k, ln) * nPart).cast("long").as("l_partkey"),
        floor(uni(22, k, ln) * nSupp).cast("long").as("l_suppkey"),
        ln.cast("int").as("l_linenumber"),
        qty.as("l_quantity"),
        round(qty * (lit(900.0) + uni(23, k, ln) * 1200), 2).as("l_extendedprice"),
        (floor(uni(24, k, ln) * 11) / 100.0).as("l_discount"),
        (floor(uni(25, k, ln) * 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), uni(26, k, ln)).as("l_returnflag"),
        pick(Seq("F", "O"), uni(27, k, ln)).as("l_linestatus"),
        date_add(to_date(col("o_orderdate")), (floor(uni(28, k, ln) * 120) + 1).cast("int"))
          .cast("timestamp_ntz").as("l_shipdate"))
  }

  /** Click-stream events over January 2024: five equally likely types,
    * an exponential `value` (mean ~50), one JSON property. */
  def events(n: Long, nUsers: Long): DataFrame = {
    val id = col("id")
    val jan1 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    ids(n).select(
      id.as("event_id"),
      timestamp_micros(lit(jan1) + floor(uni(30, id) * (30L * 86400L * 1000000L)))
        .cast("timestamp_ntz").as("ts"),
      floor(uni(31, id) * nUsers).cast("long").as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), uni(32, id)).as("event_type"),
      round(least(lit(-50.0) * log(lit(1.0) - uni(33, id)), lit(560.0)), 2).as("value"),
      format_string("{\"k\": %d}", floor(uni(34, id) * 100).cast("int")).as("props"))
  }

  private val Vocab = Seq("a", "the", "data", "table", "row", "value", "spark",
    "query", "scan", "join", "hash", "sort", "merge", "group", "filter", "agg",
    "key", "part", "line", "order", "customer", "batch", "stream", "window",
    "column", "vector", "fast", "slow", "big", "small")

  /** The id whose words/vector a document copies: 4 % of documents are
    * exact copies and 8 % near copies (10 % of words replaced) of one
    * of the 200 documents before them; the rest are their own. */
  private def copyKind(id: Column): Column = {
    val u = uni(40, id)
    when(id > 0 && u < 0.04, lit(2)).when(id > 0 && u < 0.12, lit(1)).otherwise(lit(0))
  }

  private def srcOf(id: Column): Column =
    when(copyKind(id) > 0,
      id - 1 - floor(uni(41, id) * least(id, lit(200L))).cast("long")).otherwise(id)

  /** Documents with a skewed 30-word vocabulary, 8–97 words each, 20
    * round-robin sources and a crawl `url` column: `refetch` of the
    * documents re-fetch the page of one of the 100 documents before
    * them, written in another surface form (scheme/host case, default
    * port, query-parameter order) that canonicalizes to the same URL. */
  def documents(n: Long, refetch: Double): DataFrame = {
    val id = col("id")
    val src = col("src")
    val vocab = array(Vocab.map(lit): _*)
    def word(owner: Column, i: Column): Column =
      element_at(vocab, (floor(pow(uni(43, owner, i), 1.6) * Vocab.size) + 1).cast("int"))
    val nWords = (floor(uni(42, src) * 90) + 8).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      when(col("kind") === 1 && uni(44, id, i) < 0.1, word(id, i)).otherwise(word(src, i)))
    val page = when(id > 0 && uni(45, id) < refetch,
      id - 1 - floor(uni(46, id) * least(id, lit(100L))).cast("long")).otherwise(id)
    val scheme = when(id % 3 === 0, lit("HTTPS")).otherwise(lit("https"))
    val host = concat(lit("www.src"), (page % 20).cast("string"), lit(".example.com"))
    val url = concat(scheme, lit("://"),
      when(id % 5 === 0, upper(host)).otherwise(host),
      when(id % 8 < 2, lit(":443")).otherwise(lit("")),
      lit("/p/"), page.cast("string"),
      when(id % 2 === 0, lit("?a=1&b=2")).otherwise(lit("?b=2&a=1")))
    ids(n)
      .withColumn("kind", copyKind(id))
      .withColumn("src", srcOf(id))
      .select(
        id.as("doc_id"),
        array_join(words, " ").as("text"),
        pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), uni(47, id)).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"),
        url.as("url"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-d unit vectors around ten label centres; copied documents'
    * vectors sit next to their source's. */
  def embeddings(n: Long): DataFrame = {
    val id = col("id")
    val src = col("src")
    val label = floor(uni(50, src) * 10).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), d =>
      gauss(51, label, d) + lit(0.6) * gauss(53, src, d) +
        when(col("kind") > 0, lit(0.05) * gauss(55, id, d)).otherwise(lit(0.0)))
    ids(n)
      .withColumn("kind", copyKind(id))
      .withColumn("src", srcOf(id))
      .select(id.as("vec_id"), raw.as("v"), label.as("label"))
      .select(col("vec_id"),
        transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
  }

  /** Write the star schema + events at scale factor `sf` (sf 0.01 ≈
    * 60k lineitem rows, 10k events) under `dir`. */
  def writeStar(dir: String, sf: Double): Unit = {
    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrd = (1500000 * sf).toLong
    val ord = orders(nOrd, nCust)
    write(region, dir, "region")
    write(nation, dir, "nation")
    write(customer(nCust), dir, "customer")
    write(supplier(nSupp), dir, "supplier")
    write(part(nPart), dir, "part")
    write(ord, dir, "orders")
    write(lineitem(ord, nPart, nSupp), dir, "lineitem")
    write(events((1000000 * sf).toLong, (15000 * sf).toLong), dir, "events")
  }

  def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
}
