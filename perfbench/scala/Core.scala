package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One query shape: a name, how to build it against a catalog, whether
  * the routing layer may serve it from a rollup, and the metric view it
  * reads (empty when it reads none). */
final case class Shape(name: String, kind: String, eligible: Boolean,
    build: Ctx => DataFrame, view: String = "")

/** The catalog a shape is built against. */
final case class Ctx(spark: SparkSession, cat: graft.api.MetricViewCatalog) {
  /** Point the SQL `MEASURE()`/DESCRIBE surface at this catalog. */
  def bindSql(): Unit = { graft.sqlext.SqlMetricViews.registerAll(cat); cat.bind() }
}

/** One timed call: build (the call into graft) then execute into the
  * `noop` sink. Epoch-ms bounds of the execute step let the traced run
  * attach Catalyst phase events to the op that caused them. */
final case class OpRec(shape: String, kind: String, tag: String,
    startNs: Long, builtNs: Long, endNs: Long, execStartMs: Long, execEndMs: Long,
    ok: Boolean, error: String, traced: Boolean = false) {
  def wallMs: Double = (endNs - startNs) / 1e6
  def buildMs: Double = (builtNs - startNs) / 1e6
}

object Core {
  private val opSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  def timeOp(spark: SparkSession, ctx: Ctx, shape: Shape): OpRec = {
    val tag = s"op-${opSeq.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.TagKey, tag)
    val t0 = System.nanoTime()
    var t1 = t0
    var e0 = 0L
    try {
      val df = shape.build(ctx)
      t1 = System.nanoTime()
      e0 = System.currentTimeMillis()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      OpRec(shape.name, shape.kind, tag, t0, t1, t2, e0,
        System.currentTimeMillis(), ok = true, "")
    } catch {
      case NonFatal(e) =>
        val t2 = System.nanoTime()
        if (t1 == t0) t1 = t2
        OpRec(shape.name, shape.kind, tag, t0, t1, t2, e0,
          System.currentTimeMillis(), ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally sc.setLocalProperty(Probe.TagKey, null)
  }

  def median(v: Seq[Double]): Double = percentile(v, 50)

  /** Nearest-rank percentile. */
  def percentile(v: Seq[Double], p: Double): Double =
    if (v.isEmpty) 0.0
    else {
      val s = v.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** Harrell–Davis estimate of the `p`-th percentile: a Beta-weighted
    * mean of all order statistics. Ops of one cycle fall into a few
    * latency clusters, one per shape, and a plain sample quantile jumps
    * from cluster to cluster across a gap; this estimate moves smoothly. */
  def hdPercentile(v: Seq[Double], p: Double): Double =
    if (v.isEmpty) 0.0
    else {
      val s = v.sorted
      val n = s.size
      val q = p / 100.0
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        null, (n + 1) * q, (n + 1) * (1 - q), 1e-9)
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }

  def mean(v: Seq[Double]): Double = if (v.isEmpty) 0.0 else v.sum / v.size

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Heap still reachable after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    heap.getUsed / 1048576.0
  }

  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
  }

  // ---- output checks -------------------------------------------------

  /** A result as rows of (keys, numbers): fractional and decimal cells
    * become numbers compared with a tolerance, everything else is a
    * key compared exactly. Rows are sorted so the order the engine
    * returned them in does not matter. */
  final case class Canon(rows: Vector[(Vector[String], Vector[Double])])

  def canon(df: DataFrame): Canon = {
    val fields = df.schema.fields
    val numeric = fields.map(_.dataType match {
      case _: org.apache.spark.sql.types.DecimalType | org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => true
      case _ => false
    })
    val rows = df.collect().toVector.map { r: Row =>
      val keys = Vector.newBuilder[String]
      val nums = Vector.newBuilder[Double]
      fields.indices.foreach { i =>
        if (numeric(i)) nums += (if (r.isNullAt(i)) Double.NaN else r.get(i) match {
          case d: java.math.BigDecimal => d.doubleValue
          case d: Double => d
          case f: Float => f.toDouble
          case other => other.toString.toDouble
        })
        else keys += (if (r.isNullAt(i)) "\u0000null" else r.get(i).toString)
      }
      (keys.result(), nums.result())
    }
    Canon(rows.sortBy(_._1.mkString("\u0001")))
  }

  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Empty when `got` matches `want` after `scale` is applied to each
    * numeric column of `want`; otherwise a one-line reason. */
  def compare(got: Canon, want: Canon, scale: Int => Double = _ => 1.0): Option[String] =
    if (got.rows.size != want.rows.size) Some(s"row count ${got.rows.size} != ${want.rows.size}")
    else got.rows.zip(want.rows).zipWithIndex.collectFirst {
      case (((gk, gn), (wk, wn)), i) if gk != wk => s"row $i keys $gk != $wk"
      case (((_, gn), (_, wn)), i) if gn.size != wn.size ||
          gn.indices.exists(j => !close(gn(j), wn(j) * scale(j))) =>
        s"row $i values $gn != $wn (scaled)"
    }
}
