package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session factory. Every main and the test harness
  * build their `SparkSession` here, so the timed, correctness-dump and
  * test paths run the same conf set. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else every core the JVM
    * sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared confs for a `local[cpus]` session. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.sqlext.GraftExtensions",
    // local-mode knob: fixture files are ~10-30 MB, so the 128 MB
    // default gives one scan task per table and idles the other
    // cores; 8 MB splits restore scan parallelism. (On a real
    // cluster with TB-scale tables the default is correct.)
    "spark.sql.files.maxPartitionBytes" -> "8m",
    // explicit-file reads (BucketStore.readExact/readChecked) pass
    // per-file root paths; above the default threshold (32) Spark
    // spawns a distributed listing JOB per read -- pure scheduler
    // overhead on a local FS. (On a real cluster against object
    // storage the distributed listing is right; this is a local-mode
    // knob like maxPartitionBytes above.)
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "8192",
    // the generated-class cache defaults to 100 entries per JVM; a
    // suite of 136 distinct queries cycles ~10x that many codegen
    // units per sweep, so EVERY query re-Janino-compiled its stages on
    // EVERY run (~30% of total suite time, measured 134.5 -> 95.7 s at
    // sf0.1). Not a local-mode knob: executors pay the same compile on
    // a cluster whenever a deployment runs a query library larger than
    // the default cache. Sized to hold this suite with headroom
    // (~5k classes x ~10-50 KB bytecode - bounded metaspace cost).
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session with the shared confs; `extraConfs` are
    * applied after them, so a caller can add or override one. */
  def local(cpus: Int = GraftSession.cpus,
      extraConfs: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cpus]")
    val spark = (confs(cpus) ++ extraConfs)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
