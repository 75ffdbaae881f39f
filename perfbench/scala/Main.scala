package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one JVM.
  *
  * {{{
  * graftbench.Main --workload <mv_dashboard|mv_scan|ingest_mixed> --seed <n>
  *   --seconds <s> --trace <0|1> --work-dir <dir>
  *   [--sf 0.1] [--replicas 16] [--batches 8] [--setup-reps 3]
  * }}}
  *
  * Prints `GRAFTBENCH settings {...}` then `GRAFTBENCH result {...}`;
  * `perfbench/run.py` turns them into the benchmark's result line.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String, d: String): String = opts.getOrElse(k, d)
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.names.contains(workload), s"unknown workload '$workload'")
    val seed = opt("seed", "1").toLong
    val seconds = opt("seconds", "10").toDouble
    val traced = opt("trace", "0") == "1"
    val sf = opt("sf", "0.1").toDouble
    val replicas = opt("replicas", "16").toInt
    val batches = opt("batches", "8").toInt
    val setupReps = opt("setup-reps", "3").toInt
    val workDir = new java.io.File(opts.getOrElse("work-dir", sys.error("--work-dir is required"))).getAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors

    val confs = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.sqlext.GraftExtensions",
      "spark.sql.files.maxPartitionBytes" -> "8m",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "8192",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$workDir/spark-local",
      "spark.sql.warehouse.dir" -> s"$workDir/warehouse")
    val spark = confs.foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val settings = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> traced.toString, "nproc" -> cpus.toString, "master" -> Json.str(s"local[$cpus]"),
      "sf" -> sf.toString, "replicas" -> replicas.toString, "arrival_batches" -> batches.toString,
      "setup_reps" -> setupReps.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      // the daemon fans family folds out when the session has >= 16 cores
      "folds_fan_out" -> (spark.sparkContext.defaultParallelism >= 16).toString,
      "spark_version" -> Json.str(spark.version),
      "confs" -> Json.obj(confs.filterNot { case (k, _) => k.startsWith("spark.local") || k.contains("warehouse") }
        .map { case (k, v) => k -> Json.str(v) }: _*))
    println(s"GRAFTBENCH settings $settings")

    val probe = new Probe(spark, traced)
    val spans = new Spans
    val env = Env(spark, seed, sf, replicas, batches, seconds, traced, workDir, probe, spans, cpus, setupReps)
    val out = Workloads.run(workload, env)
    val report = Report(env, out, sessionReadyS)
    println(s"GRAFTBENCH result ${report.json}")
    if (traced) spans.writeJson(s"$workDir/spans.jsonl")
    probe.stop()
    spark.stop()
  }
}

/** Minimal JSON rendering; values are pre-rendered JSON text. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
