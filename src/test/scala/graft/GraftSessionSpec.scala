package graft

import scala.jdk.CollectionConverters._

/** Every session comes from [[GraftSession.local]]: a session built
  * anywhere else can silently run other confs than the timed path
  * (another split layout, core count or codegen cache). */
class GraftSessionSpec extends SparkSpec {

  test("no session builder under src/ outside GraftSession") {
    val needle = "SparkSession" + ".builder" // split so this file never matches
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala")
        .filter(p => java.nio.file.Files.readString(p).contains(needle))
        .map(_.toString).toList
      finally walk.close()
    assert(offenders.isEmpty, s"build sessions with GraftSession.local: $offenders")
  }

  test("GraftSession.local(4) carries the shared confs") {
    assert(spark.sparkContext.master == "local[4]")
    val confs = GraftSession.confs(4).toMap
    assert(confs("spark.sql.shuffle.partitions") == "4")
    assert(confs.keySet == Set(
      "spark.sql.shuffle.partitions", "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.session.timeZone", "spark.sql.extensions",
      "spark.sql.files.maxPartitionBytes",
      "spark.sql.sources.parallelPartitionDiscovery.threshold",
      "spark.sql.codegen.cache.maxEntries", "spark.ui.enabled"))
    confs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k on the shared test session")
    }
  }
}
