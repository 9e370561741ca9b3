package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic stand-in for the TPC-H-ish parquet tables the query
  * catalogue reads (`region nation customer supplier part orders
  * lineitem events documents embeddings`), with the same schemas and
  * parquet types and value ranges of the same shape.
  *
  * Every value is a hash of (row id, column salt), so the tables are
  * identical whatever the partitioning. The query workloads read one
  * fixed table set; their seed only shuffles the query order, so the
  * recorded per-query results in `expected_queries.tsv` stay valid. */
object TableGen {

  /** Bump when the generated content changes; names the cache dir and
    * must match the header of `expected_queries.tsv`. */
  val Version = "tables-v1"

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Rows of a table at `sf`, from its row count at sf0.1. */
  private def rows(sf: Double, atSf01: Long): Long =
    math.max(1L, math.round(atSf01 * sf / 0.1))

  private def h(salt: Int, cols: Column*): Column =
    xxhash64((cols :+ lit(salt)): _*)

  /** Uniform double in [0, 1) from the row id and a salt. */
  private def u(salt: Int, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(1000000007L)).cast("double") / 1000000007.0

  private def pick(salt: Int, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*),
      (pmod(h(salt, cols: _*), lit(values.size.toLong)) + 1).cast("int"))

  private def below(salt: Int, n: Long, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(n))

  private val id = col("id")

  private def day(base: String, salt: Int, spanDays: Int): Column =
    date_add(to_date(lit(base)), floor(u(salt, id) * spanDays).cast("int"))
      .cast("timestamp_ntz")

  val Vocab: Seq[String] = ("a the data spark stream window join sort hash " +
    "group agg filter scan batch row column table key value query order " +
    "line part customer vector merge big small fast slow").split(' ').toSeq

  def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    val nOrders = rows(sf, 150000)
    val nCust = rows(sf, 15000)
    val nPart = rows(sf, 20000)
    val nSupp = rows(sf, 1000)
    val nUsers = rows(sf, 1500)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def range(n: Long): DataFrame = spark.range(n).toDF("id")

    write("region", range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name")))
    write("nation", range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey")))
    write("customer", range(nCust).select(id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      below(1, 25, id).cast("int").as("c_nationkey"),
      round(u(2, id) * 10999.0 - 999.99, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), id).as("c_mktsegment")))
    write("supplier", range(nSupp).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
      below(4, 25, id).cast("int").as("s_nationkey"),
      round(u(5, id) * 10999.0 - 999.99, 2).as("s_acctbal")))
    write("part", range(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(6, Seq("blue", "red", "hot", "cold", "new", "old", "small",
          "large"), id),
        pick(7, Seq("ring", "bolt", "gear", "rod", "plate", "anvil",
          "widget", "gizmo"), id)).as("p_name"),
      concat(lit("Brand#"), (below(8, 25, id) + 1).cast("string")).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD"), id).as("p_type"),
      (below(10, 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000L)) * 0.1, 1).as("p_retailprice")))
    write("orders", range(nOrders).select(id.as("o_orderkey"),
      below(11, nCust, id).as("o_custkey"),
      pick(12, Seq("F", "O", "P"), id).as("o_orderstatus"),
      round(u(13, id) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      day("1995-01-01", 14, 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), id).as("o_orderpriority")))
    write("lineitem", range(rows(sf, 600000)).select(
      below(16, nOrders, id).as("l_orderkey"),
      below(17, nPart, id).as("l_partkey"),
      below(18, nSupp, id).as("l_suppkey"),
      (below(19, 7, id) + 1).cast("int").as("l_linenumber"),
      (below(20, 50, id) + 1).cast("double").as("l_quantity"),
      round(u(21, id) * 104100.0 + 900.0, 2).as("l_extendedprice"),
      (below(22, 11, id).cast("double") / 100.0).as("l_discount"),
      (below(23, 9, id).cast("double") / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R"), id).as("l_returnflag"),
      pick(25, Seq("F", "O"), id).as("l_linestatus"),
      day("1995-01-02", 26, 2498).as("l_shipdate")))
    write("events", range(rows(sf, 100000)).select(id.as("event_id"),
      (lit(java.time.LocalDateTime.parse("2024-01-01T00:00:00"))
        + make_dt_interval(lit(0), lit(0), lit(0),
          (u(27, id) * 2592000.0).cast("decimal(18,6)"))).as("ts"),
      below(28, nUsers, id).as("user_id"),
      pick(29, Seq("click", "error", "purchase", "signup", "view"), id)
        .as("event_type"),
      round(-log(lit(1.0) - u(30, id)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), below(31, 100, id).cast("string"), lit("}"))
        .as("props")))
    // text: 8-110 words from a 30-word vocabulary; every 600th document
    // repeats its predecessor's words plus a marker (near-duplicates
    // for the curation and dedup queries to find)
    val words = (seed: Column) => array_join(transform(
      sequence(lit(1), (below(32, 103, seed) + 8).cast("int")),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(seed, i, lit(33)), lit(Vocab.size.toLong)) + 1)
          .cast("int"))), " ")
    val isDup = pmod(id, lit(600L)) === 599
    write("documents", range(rows(sf, 5000))
      .withColumn("text", when(isDup, concat(words(id - 1), lit(" dup")))
        .otherwise(words(id)))
      .select(id.as("doc_id"), col("text"),
        pick(34, Seq("en", "en", "en", "de", "es", "fr", "zh"), id).as("lang"),
        concat(lit("src"), below(35, 20, id).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars")))
    write("embeddings", range(rows(sf, 2000))
      .withColumn("label", below(36, 10, id).cast("int"))
      .select(id.as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          ((u(37, id, i) - 0.5) * 0.3 +
            when(pmod(i, lit(10)) === col("label"), 0.3).otherwise(0.0))
            .cast("float")).as("embedding"),
        col("label")))
  }
}
