package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for every input the benchmark hands the program.
  *
  * The tables follow the fixture schemas the model layer reads
  * (`orders`, `customer`, `nation`, `region`, `documents`): the same
  * column names and types, TPC-H-like cardinalities at a scale factor
  * `sf` (orders = 1.5 M × sf, customers = 150 k × sf, documents =
  * 50 k × sf). Every value is a pure function of (seed, row id), so a
  * seed gives byte-identical inputs on any host and any parallelism.
  */
object Gen {

  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val langs = Seq("zh", "es", "fr", "de")
  val nSources = 20
  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  /** First order date and the span of order dates, in days. */
  val firstDay = "1995-01-01"
  val daySpan = 2404

  def nCustomers(sf: Double): Long = math.max(10L, math.round(150000 * sf))
  def nOrders(sf: Double): Long = 10 * nCustomers(sf)
  def nDocuments(sf: Double): Long = math.max(200L, math.round(50000 * sf))

  private def hash(seed: Long, salt: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)
  /** Uniform in [0, 1). */
  private def uniform(seed: Long, salt: String, cols: Column*): Column =
    pmod(hash(seed, salt, cols: _*), lit(1000000007L)).cast("double") / 1000000007.0
  private def pick(values: Seq[String], seed: Long, salt: String, cols: Column*): Column =
    element_at(array(values.map(lit): _*),
      (pmod(hash(seed, salt, cols: _*), lit(values.size.toLong)) + 1).cast("int"))

  def customer(spark: SparkSession, seed: Long, sf: Double, parts: Int): DataFrame = {
    val id = col("id")
    spark.range(0, nCustomers(sf), 1, parts).select(
      id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      pmod(hash(seed, "c_nation", id), lit(25L)).cast("int").as("c_nationkey"),
      round(uniform(seed, "c_acctbal", id) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(segments, seed, "c_segment", id).as("c_mktsegment"))
  }

  def orders(spark: SparkSession, seed: Long, sf: Double, parts: Int): DataFrame = {
    val id = col("id")
    val status = uniform(seed, "o_status", id)
    spark.range(0, nOrders(sf), 1, parts).select(
      id.as("o_orderkey"),
      pmod(hash(seed, "o_cust", id), lit(nCustomers(sf))).as("o_custkey"),
      when(status < 0.49, "F").when(status < 0.98, "O").otherwise("P").as("o_orderstatus"),
      round(uniform(seed, "o_price", id) * 550000.0 + 850.0, 2).as("o_totalprice"),
      date_add(lit(firstDay).cast("date"),
        (uniform(seed, "o_date", id) * daySpan).cast("int")).cast("timestamp").as("o_orderdate"),
      pick(priorities, seed, "o_priority", id).as("o_orderpriority"))
  }

  /** `orders` repeated `r` times with disjoint order keys: every other
    * column is copied, so count and sum measures scale by exactly `r`
    * while averages, maxima and distinct counts stay put. */
  def replicated(base: DataFrame, r: Int, nBase: Long): DataFrame =
    base.crossJoin(base.sparkSession.range(0, r, 1, 1).withColumnRenamed("id", "replica"))
      .withColumn("o_orderkey", col("o_orderkey") + col("replica") * nBase)
      .drop("replica")

  def nation(spark: SparkSession): DataFrame = {
    val id = col("id")
    spark.range(0, 25, 1, 1).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey"))
  }

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
  }

  /** Documents over a 30-word vocabulary; every 20th document repeats
    * the text of the one three ids earlier plus a trailing `dup` token,
    * so the dedup, cluster and span families have near-duplicates to
    * find. */
  def documents(spark: SparkSession, seed: Long, sf: Double, parts: Int): DataFrame = {
    val id = col("id")
    val isDup = pmod(id, lit(20L)) === 3
    val textKey = when(isDup, id - 3).otherwise(id)
    val nWords = (pmod(hash(seed, "d_len", textKey), lit(90L)) + 8).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(array(vocab.map(lit): _*),
        (pmod(hash(seed, "d_word", textKey, i), lit(vocab.size.toLong)) + 1).cast("int")))
    val text = concat(array_join(words, " "), when(isDup, lit(" dup")).otherwise(lit("")))
    val english = uniform(seed, "d_lang", id) < 0.4
    spark.range(0, nDocuments(sf), 1, parts).select(
      id.as("doc_id"),
      text.as("text"),
      when(english, lit("en")).otherwise(pick(langs, seed, "d_lang2", id)).as("lang"),
      concat(lit("src"), pmod(id, lit(nSources.toLong)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Writes the four order-side tables under `dir` in the fixture
    * layout (`<dir>/<table>.parquet`). `replicas` > 1 writes the
    * replicated orders table instead of the base one. */
  def writeOrderTables(spark: SparkSession, seed: Long, sf: Double, dir: String,
      parts: Int, replicas: Int = 1): Unit = {
    val o = orders(spark, seed, sf, parts)
    val out = if (replicas > 1) replicated(o, replicas, nOrders(sf)) else o
    out.write.parquet(s"$dir/orders.parquet")
    customer(spark, seed, sf, parts).write.parquet(s"$dir/customer.parquet")
    nation(spark).write.parquet(s"$dir/nation.parquet")
    region(spark).write.parquet(s"$dir/region.parquet")
  }
}
