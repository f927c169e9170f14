package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the TPC-H-like star schema plus the `events`
  * and `documents` tables that `graft.sources.Tables` loads. Every
  * column is a pure function of (row id, seed), computed with Spark's
  * xxhash64, so the same seed gives byte-identical tables whatever the
  * partitioning. Column names, types and value ranges
  * follow the layout the graft operators and their DuckDB oracles
  * expect: one parquet file per table, timestamps as TIMESTAMP_NTZ
  * micros.
  *
  * `scale` plays the role of a TPC-H scale factor: 0.01 gives 60k
  * lineitem rows.
  */
object DataGen {
  private val vocab = Seq(
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "batch", "stream", "spark", "dup",
    "group", "query", "row", "data", "slow", "filter", "customer", "line",
    "value", "agg", "column", "vector", "big", "a")

  private val Day = 86400000000L // micros
  private val Y1995 = 788918400000000L // 1995-01-01T00:00:00Z
  private val Y2024 = 1704067200000000L // 2024-01-01T00:00:00Z

  final case class Sizes(customers: Long, suppliers: Long, parts: Long,
                         orders: Long, lineitems: Long, events: Long,
                         users: Long, documents: Long)

  def sizes(scale: Double): Sizes = {
    def n(base: Double, floor: Long) = math.max(floor, math.round(base * scale))
    Sizes(customers = n(150000, 15), suppliers = n(10000, 5), parts = n(200000, 20),
      orders = n(1500000, 150), lineitems = n(6000000, 600), events = n(1000000, 100),
      users = n(15000, 10), documents = n(50000, 200))
  }

  /** Write the named tables under `dir` as `<table>.parquet` (a single file). */
  def generate(spark: SparkSession, dir: String, z: Sizes, seed: Long,
               only: Seq[String]): Unit = {
    val g = new Gen(spark, seed)
    val frames: Seq[(String, DataFrame)] = Seq(
      "region" -> g.region,
      "nation" -> g.nation,
      "customer" -> g.customer(z),
      "supplier" -> g.supplier(z),
      "orders" -> g.orders(z),
      "lineitem" -> g.lineitem(z),
      "events" -> g.events(z),
      "documents" -> g.documents(z))
    frames.filter(f => only.contains(f._1)).foreach { case (name, df) =>
      writeSingleFile(df, dir, name)
    }
  }

  private def writeSingleFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = s"$dir/_staging_$name"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part written for $name"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"))
    Files.deleteTree(new java.io.File(staging))
  }

  private final class Gen(spark: SparkSession, seed: Long) {
    private def ids(n: Long): DataFrame = spark.range(0, n, 1, 1).toDF()
    /** Uniform hash of (id, seed, k). */
    private def h(k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
    private def pick(k: Int, n: Long): Column = pmod(h(k), lit(n))
    private def unit(k: Int): Column = pmod(h(k), lit(1000000L)).cast("double") / 1e6
    private def choose(k: Int, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (pick(k, values.size.toLong) + 1).cast("int"))
    private def money(k: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + unit(k) * (hi - lo), 2)
    private def dayTs(k: Int, base: Long, days: Long): Column =
      timestamp_micros(lit(base) + pick(k, days) * Day).cast("timestamp_ntz")

    def region: DataFrame = {
      val names = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      ids(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(names.map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))
    }

    def nation: DataFrame =
      ids(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

    def customer(z: Sizes): DataFrame =
      ids(z.customers).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        pick(1, 25).cast("int").as("c_nationkey"),
        money(2, -999.99, 9999.99).as("c_acctbal"),
        choose(3, Seq("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"))
          .as("c_mktsegment"))

    def supplier(z: Sizes): DataFrame =
      ids(z.suppliers).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        pick(1, 25).cast("int").as("s_nationkey"),
        money(2, -999.99, 9999.99).as("s_acctbal"))

    def orders(z: Sizes): DataFrame =
      ids(z.orders).select(col("id").as("o_orderkey"),
        pick(1, z.customers).as("o_custkey"),
        choose(2, Seq("F", "O", "P")).as("o_orderstatus"),
        money(3, 1000.0, 500000.0).as("o_totalprice"),
        dayTs(4, Y1995, 2404).as("o_orderdate"),
        choose(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority"))

    def lineitem(z: Sizes): DataFrame =
      ids(z.lineitems).select(
        pick(1, z.orders).as("l_orderkey"),
        pick(2, z.parts).as("l_partkey"),
        pick(3, z.suppliers).as("l_suppkey"),
        (pick(4, 7) + 1).cast("int").as("l_linenumber"),
        (pick(5, 50) + 1).cast("double").as("l_quantity"),
        money(6, 900.0, 105000.0).as("l_extendedprice"),
        (pick(7, 11).cast("double") / 100.0).as("l_discount"),
        (pick(8, 9).cast("double") / 100.0).as("l_tax"),
        choose(9, Seq("N", "A", "R")).as("l_returnflag"),
        choose(10, Seq("O", "F")).as("l_linestatus"),
        dayTs(11, Y1995 + Day, 2499).as("l_shipdate"))

    def events(z: Sizes): DataFrame = {
      // monotone in event_id: each id owns one time slot of a 30-day span
      val step = 30L * Day / z.events
      ids(z.events).select(col("id").as("event_id"),
        timestamp_micros(lit(Y2024) + col("id") * step + pick(1, step))
          .cast("timestamp_ntz").as("ts"),
        pick(2, z.users).as("user_id"),
        choose(3, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
        money(4, 0.01, 490.0).as("value"),
        concat(lit("{\"k\": "), pick(5, 100), lit("}")).as("props"))
    }

    /** Bag-of-words documents of 8 to 100 words over a 31-word
      * vocabulary; about 5% are near-duplicates: an earlier document's
      * text with the word "dup" appended. This is the shape of the
      * documents table of the repository's sf0.1 test data. */
    def documents(z: Sizes): DataFrame = {
      val words = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
      val nv = vocab.size
      val textId = when(col("id") > 0 && unit(1) < 0.05, pmod(h(2), col("id")))
        .otherwise(col("id"))
      val base = ids(z.documents)
        .withColumn("tid", textId)
        .withColumn("nw", (pmod(xxhash64(col("tid"), lit(seed), lit(3)), lit(93L)) + 8)
          .cast("int"))
      val text = expr(
        s"""concat(array_join(transform(sequence(0, nw - 1), i ->
           |  element_at($words, cast(pmod(xxhash64(tid, i, ${seed}L), $nv) AS INT) + 1)), ' '),
           |  if(tid <> id, ' dup', ''))""".stripMargin)
      base.select(col("id").as("doc_id"), text.as("text"),
        when(unit(6) < 0.41, lit("en")).otherwise(choose(7, Seq("zh", "es", "de", "fr")))
          .as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20L))).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
  }
}
