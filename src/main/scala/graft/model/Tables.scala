package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture table loaders (TESTDATA.md / FIXTURES.md).
  *
  * Each table is a single parquet file under the scale-factor dir. At
  * cluster scale these would be partitioned/bucketed catalog tables; the
  * loader is the only place that would change — everything downstream is
  * plain lazy DataFrames, so predicate pushdown / column pruning reach
  * the scan regardless of how the table is stored.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Source-relation cache (r19, guide §1.2 step 1 / §6 file listing):
  // `spark.read.parquet` runs footer schema inference + a fresh file
  // listing on EVERY call (~55-65 ms measured vs ~7 ms with a known
  // schema, construction only) and most queries load 2-6 tables per
  // CONSTRUCTION — ~15-25 s of pure re-inference per 136-query sweep.
  // The fixture dirs are read-only, so the resolved relation (schema +
  // file index — METADATA, never rows) is memoized per (session, path).
  // This is exactly what a catalog table gives a real deployment (the
  // metastore holds the schema; Spark caches the relation in its
  // SessionCatalog) — Tables' own scaladoc already declares these
  // loaders the stand-in for catalog tables. Results are still computed
  // from the parquet inputs on every action.
  private val relations =
    scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()

  def load(spark: SparkSession, dir: String, table: String): DataFrame =
    relations.getOrElseUpdate((spark, s"$dir/$table.parquet"),
      spark.read.parquet(s"$dir/$table.parquet"))

  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")

  /** events.ts arrives in whatever physical type the fixture generator
    * used — TIMESTAMP(NANOS) (read as long via
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set by our session
    * builders) or, since the r9 fixtures, TIMESTAMP(MICROS) without a
    * timezone (read as TIMESTAMP_NTZ). Both normalize to TIMESTAMP:
    * watermarks and `unix_micros` require an instant type, and the
    * session timezone is pinned UTC so the NTZ→instant cast is the
    * identity on wall-clock values — exactly DuckDB's naive read. */
  def events(spark: SparkSession, dir: String): DataFrame =
    // the ts-normalization projection is itself ~20 ms of per-call
    // analysis on top of the load — memoized under a distinct key
    relations.getOrElseUpdate((spark, s"$dir/events.parquet#norm"),
      eventsUncached(spark, dir))

  private def eventsUncached(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: epoch-nanos exceed double's 2^53
        // mantissa, so fractional division drifts by ±1µs
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
