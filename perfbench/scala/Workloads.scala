package graftbench

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.{MetricViewCatalog, SpineSpec}

/** Everything a workload needs from the process that runs it. */
final case class Env(spark: SparkSession, seed: Long, sf: Double, replicas: Int,
    maxBatches: Int, seconds: Double, traced: Boolean, workDir: String,
    probe: Probe, spans: Spans, cpus: Int, setupReps: Int)

/** What a workload hands back for reporting. `programSetupS` holds each
  * repetition of the program's own set-up (registration + builds),
  * `preSetupS` the input generation before it; `unrouted` lists the
  * route-eligible shapes that read anything outside the rollups. */
final case class Outcome(programSetupS: Vector[Double], preSetupS: Double,
    ops: Vector[OpRec], windowS: Double, tailPct: Double, gcMs: Double,
    checksRun: Int, checkFailures: Vector[String], eligible: Int, unrouted: Seq[String],
    resultRows: Map[String, Long], ingest: Option[IngestStats])

/** The timed drain: `firstBatchRec` indexes its first batch in the
  * streaming listener's records. */
final case class IngestStats(firstBatchRec: Int, batches: Int, docs: Long, drainS: Double)

object Workloads {

  val names: Seq[String] = Seq("mv_dashboard", "mv_scan", "ingest_mixed")

  /** Views whose rollups the dashboard catalog builds. */
  val materialized = Seq("mv_orders_simple", "mv_order_metrics", "mv_orders_dist",
    "mv_orders_topk", "mv_orders_stats")

  def run(name: String, env: Env): Outcome = name match {
    case "mv_dashboard" => dashboard(env)
    case "mv_scan" => scan(env)
    case "ingest_mixed" => Ingest.run(env)
    case other => sys.error(s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  // ---- shared pieces ------------------------------------------------

  def register(env: Env, cat: MetricViewCatalog, parent: Long): Unit =
    graft.spec.Specs.all.toSeq.sortBy(_._1).foreach { case (n, yaml) =>
      val t0 = System.nanoTime()
      cat.createOrReplace(n, yaml)
      env.spans.add(parent, "spec.register", t0, System.nanoTime())
    }

  def refresh(env: Env, cat: MetricViewCatalog, parent: Long): Unit =
    materialized.foreach { n =>
      val t0 = System.nanoTime()
      cat.refresh(n)
      env.spans.add(parent, "mat.build", t0, System.nanoTime())
    }

  /** Runs `once` `setupReps` times, each time into a fresh directory,
    * and returns the last result with every repetition's seconds. */
  def repeatSetup[T](env: Env, label: String)(once: (String, Long) => T): (T, Vector[Double]) = {
    var last: Option[T] = None
    val secs = (1 to env.setupReps).toVector.map { i =>
      val dir = s"${env.workDir}/$label-$i"
      val id = env.spans.newId()
      val t0 = System.nanoTime()
      last = Some(once(dir, id))
      val t1 = System.nanoTime()
      env.spans.add(0L, "setup", t0, t1, id)
      (t1 - t0) / 1e9
    }
    (last.get, secs)
  }

  /** A seeded order over `shapes`, one full pass per cycle, run until
    * `seconds` have passed at a cycle boundary and at least `minCycles`
    * cycles ran, so that every shape is timed equally often whatever
    * the seed. In the traced run every other op is traced, alternating
    * by cycle, so each shape is timed both ways and the difference is
    * the tracing overhead. */
  def closedLoop(env: Env, ctx: Ctx, shapes: Seq[Shape], rng: Random,
      minCycles: Int): (Vector[OpRec], Double) = {
    val ops = Vector.newBuilder[OpRec]
    var cycle = 0
    var busyNs = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < env.seconds || cycle < minCycles ||
        (env.traced && cycle % 2 == 1)) {
      rng.shuffle(shapes).zipWithIndex.foreach { case (s, i) =>
        val traced = env.traced && (i + cycle) % 2 == 1
        if (env.traced) { env.probe.drain(); env.probe.on = traced }
        val r = Core.timeOp(env.spark, ctx, s).copy(traced = traced)
        busyNs += r.endNs - r.startNs
        opSpans(env, r)
        ops += r
      }
      cycle += 1
    }
    if (env.traced) { env.probe.drain(); env.probe.on = false }
    // the traced run's listener drains between ops are not part of the load
    val window = if (env.traced) busyNs / 1e9 else (System.nanoTime() - t0) / 1e9
    (ops.result(), window)
  }

  def opSpans(env: Env, r: OpRec): Unit = {
    val id = env.spans.add(0L, "op", r.startNs, r.endNs)
    env.spans.add(id, if (r.kind == "sql") "sqlext.build" else "api.build", r.startNs, r.builtNs)
    env.spans.executeOf(r.tag) = env.spans.add(id, "execute", r.builtNs, r.endNs)
  }

  /** Collects each shape once on `ctx`; a shape that throws is a check
    * failure. */
  def collectAll(ctx: Ctx, shapes: Seq[Shape], fails: collection.mutable.Buffer[String])
      : Map[String, Core.Canon] =
    shapes.flatMap { s =>
      try Some(s.name -> Core.canon(s.build(ctx)))
      catch { case NonFatal(e) => fails += s"${s.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"; None }
    }.toMap

  /** True when every file `df` reads lies under `dir`. */
  def readsOnlyUnder(df: DataFrame, dir: String): Boolean = {
    val files = df.inputFiles.map(f => new java.net.URI(f).getPath)
    val root = new java.io.File(dir).getAbsolutePath + "/"
    files.nonEmpty && files.forall(_.startsWith(root))
  }

  // ---- mv_dashboard -------------------------------------------------

  private val fromView = """(?i)\b(?:FROM|EXTENDED)\s+(mv_\w+)""".r
  private def sqlShape(name: String, eligible: Boolean, text: String): Shape =
    Shape(name, "sql", eligible, c => c.spark.sql(text),
      fromView.findFirstMatchIn(text).map(_.group(1)).getOrElse(""))
  private def apiShape(name: String, eligible: Boolean, view: String)(
      f: graft.api.MetricView => DataFrame): Shape =
    Shape(name, "api", eligible, c => f(c.cat.get(view)), view)

  /** The dashboard's query shapes. Literals are drawn once per run from
    * the seed, from value sets of equal selectivity, so every seed asks
    * the same amount of work. */
  def dashboardShapes(rng: Random): Vector[Shape] = {
    val seg = Gen.segments(rng.nextInt(5))
    val seg2 = Gen.segments(rng.nextInt(5))
    val st = Seq("F", "O")(rng.nextInt(2))
    val yr2 = 1995 + rng.nextInt(6)
    val reg = Gen.regions(rng.nextInt(5))
    val S = "mv_orders_simple"; val M = "mv_order_metrics"; val D = "mv_orders_dist"
    val T = "mv_orders_topk"; val X = "mv_orders_stats"
    Vector(
      // route-eligible: every dim and measure is covered by a rollup
      apiShape("simple_status_hll", true, S)(_.query(Seq("order_status"), Seq("approx_unique_customers", "order_count"))),
      apiShape("simple_day_where", true, S)(_.query(Seq("order_date"), Seq("order_count", "total_revenue"), Some(s"order_status = '$st'"))),
      apiShape("metrics_status_where", true, M)(_.query(Seq("order_status"), Seq("total_revenue"), Some(s"market_segment = '$seg'"))),
      apiShape("metrics_cube", true, M)(_.queryCube(Seq("market_segment", "order_status"), Seq("total_revenue", "total_orders"))),
      apiShape("dist_status", true, D)(_.query(Seq("order_status"), Seq("p50_order_value", "p95_order_value"))),
      apiShape("topk_status", true, T)(_.query(Seq("order_status"), Seq("top_customers"))),
      apiShape("stats_status_where", true, X)(_.query(Seq("order_status"), Seq("revenue_stddev_pop", "order_count"), Some(s"market_segment = '$seg2'"))),
      apiShape("spine_routed", true, S)(_.querySpine(Seq("order_status", "order_date"), Seq("order_count", "total_revenue"),
        SpineSpec("order_date", "day", zeroFill = Seq("order_count", "total_revenue")), Some(s"order_status = '$st'"))),
      sqlShape("sql_cube", true,
        "SELECT market_segment, order_status, grouping_id() AS gid, MEASURE(total_revenue) AS rev, MEASURE(total_orders) AS n FROM mv_order_metrics GROUP BY CUBE (market_segment, order_status)"),
      sqlShape("sql_month_where", true,
        s"SELECT order_year, order_month, MEASURE(total_revenue) AS rev FROM mv_order_metrics WHERE order_year = $yr2 GROUP BY order_year, order_month"),
      // not route-eligible: window, distinct, non-decomposable or join-path measures
      apiShape("simple_distinct", false, S)(_.query(Seq("order_priority"), Seq("unique_customers"))),
      apiShape("metrics_trailing7", false, M)(_.query(Seq("order_date"), Seq("trailing_7d_revenue"), Some(s"market_segment = '$seg'"))),
      apiShape("customer_segment", false, "mv_customer_metrics")(_.query(Seq("market_segment"),
        Seq("total_customers", "total_revenue", "avg_customer_value"))),
      apiShape("geo_nation_where", false, "mv_sales_geo")(_.query(Seq("nation_name"),
        Seq("total_revenue", "avg_account_balance"), Some(s"region_name = '$reg'"))),
      apiShape("pop_month", false, "mv_revenue_pop")(_.query(Seq("order_month_start"),
        Seq("total_revenue", "prior_month_revenue", "yoy_month_revenue"), Some(s"market_segment = '$seg'"))),
      sqlShape("sql_trailing_where", false,
        s"SELECT order_date, MEASURE(trailing_7d_revenue) AS t7 FROM mv_order_metrics WHERE order_year = $yr2 GROUP BY order_date"),
      sqlShape("describe_sql", false, "DESCRIBE EXTENDED mv_orders_stats"))
  }

  def dashboard(env: Env): Outcome = {
    val spark = env.spark
    val dataDir = s"${env.workDir}/data"
    val g0 = System.nanoTime()
    Gen.writeOrderTables(spark, env.seed, env.sf, dataDir, env.cpus)
    env.spans.add(0L, "gen", g0, System.nanoTime())
    val pre = (System.nanoTime() - g0) / 1e9
    val ((routed, matDir), reps) = repeatSetup(env, "catalog") { (dir, parent) =>
      val matDir = s"$dir/mat"
      val routed = new MetricViewCatalog(spark, graft.model.Models.resolve(spark, dataDir, _), Some(matDir))
      register(env, routed, parent)
      refresh(env, routed, parent)
      (routed, matDir)
    }
    // the raw catalog only serves the output check
    val raw = new MetricViewCatalog(spark, graft.model.Models.resolve(spark, dataDir, _))
    graft.spec.Specs.all.foreach { case (n, y) => raw.createOrReplace(n, y) }
    val rng = new Random(env.seed)
    val shapes = dashboardShapes(rng)
    val rawCtx = Ctx(spark, raw)
    val routedCtx = Ctx(spark, routed)

    // check pass (untimed; it also warms every plan the loop will run)
    val c0 = System.nanoTime()
    val fails = collection.mutable.ArrayBuffer[String]()
    routedCtx.bindSql()
    val got = collectAll(routedCtx, shapes, fails)
    val unrouted = shapes.filter(_.eligible).filterNot(s =>
      try readsOnlyUnder(s.build(routedCtx), matDir) catch { case NonFatal(_) => false }).map(_.name)
    rawCtx.bindSql()
    val want = collectAll(rawCtx, shapes.filter(s => materialized.contains(s.view)), fails)
    // shapes over views without materializations run the same plan on
    // both catalogs, so only the others are compared
    shapes.foreach { s =>
      for (g <- got.get(s.name); w <- want.get(s.name))
        Core.compare(withoutBuiltFlag(g), withoutBuiltFlag(w))
          .foreach(r => fails += s"${s.name}: routed != raw: $r")
    }
    routedCtx.bindSql()
    env.spans.add(0L, "check", c0, System.nanoTime())

    val gc0 = Core.gcMs()
    val (ops, window) = closedLoop(env, routedCtx, shapes, rng, minCycles = 4)
    Outcome(reps, pre, ops, window, tailPct = 80, (Core.gcMs() - gc0).toDouble,
      checksRun = shapes.size, fails.toVector,
      shapes.count(_.eligible), unrouted,
      resultRows = got.map { case (k, v) => k -> v.rows.size.toLong }, ingest = None)
  }

  /** DESCRIBE rows differ between the catalogs only in whether the
    * view's materializations are built. */
  private def withoutBuiltFlag(c: Core.Canon): Core.Canon =
    Core.Canon(c.rows.filterNot(_._1.headOption.contains("metric_view.materialization.built")))

  // ---- mv_scan ------------------------------------------------------

  /** Unroutable shapes over the replicated fact table, each with the
    * numeric columns that scale with the replica count (true) or stay
    * unchanged (false), in result-column order. */
  def scanShapes(rng: Random): Vector[(Shape, Seq[Boolean])] = {
    val seg = Gen.segments(rng.nextInt(5))
    val seg2 = Gen.segments(rng.nextInt(5))
    val yr = 1995 + rng.nextInt(6)
    val reg = Gen.regions(rng.nextInt(5))
    val pri = Gen.priorities(rng.nextInt(5))
    val M = "mv_order_metrics"
    Vector(
      apiShape("scan_trailing7", false, M)(_.query(Seq("order_date"), Seq("trailing_7d_revenue"), Some(s"order_year = $yr"))) -> Seq(true),
      apiShape("scan_cumulative", false, M)(_.query(Seq("market_segment", "order_date"), Seq("cumulative_revenue"),
        Some(s"market_segment = '$seg'"))) -> Seq(true),
      apiShape("scan_distinct", false, "mv_orders_simple")(_.query(Seq("order_priority"), Seq("unique_customers", "order_count"))) -> Nil,
      apiShape("scan_percentile", false, "mv_orders_dist")(_.query(Seq("order_priority"), Seq("p50_order_value", "p95_order_value"))) -> Seq(false, false),
      apiShape("scan_variance", false, "mv_orders_stats")(_.query(Seq("market_segment"), Seq("revenue_stddev_pop", "order_count"))) -> Seq(false),
      apiShape("scan_geo", false, "mv_sales_geo")(_.query(Seq("region_name", "nation_name"),
        Seq("order_count", "total_revenue", "avg_account_balance"), Some(s"region_name = '$reg'"))) -> Seq(true, false),
      apiShape("scan_pop", false, "mv_revenue_pop")(_.query(Seq("order_month_start"), Seq("total_revenue", "prior_month_revenue"),
        Some(s"market_segment = '$seg2'"))) -> Seq(true, true),
      sqlShape("scan_sql_distinct", false,
        s"SELECT order_status, MEASURE(unique_customers) AS u FROM mv_orders_simple WHERE order_priority = '$pri' GROUP BY order_status") -> Nil)
  }

  def scan(env: Env): Outcome = {
    val spark = env.spark
    val baseDir = s"${env.workDir}/base"
    val bigDir = s"${env.workDir}/replicated"
    val g0 = System.nanoTime()
    Gen.writeOrderTables(spark, env.seed, env.sf, baseDir, env.cpus)
    Gen.writeOrderTables(spark, env.seed, env.sf, bigDir, env.cpus, env.replicas)
    env.spans.add(0L, "gen", g0, System.nanoTime())
    val pre = (System.nanoTime() - g0) / 1e9
    val (big, reps) = repeatSetup(env, "catalog") { (_, parent) =>
      val c = new MetricViewCatalog(spark, graft.model.Models.resolve(spark, bigDir, _))
      register(env, c, parent)
      c
    }
    val base = new MetricViewCatalog(spark, graft.model.Models.resolve(spark, baseDir, _))
    graft.spec.Specs.all.foreach { case (n, y) => base.createOrReplace(n, y) }
    val rng = new Random(env.seed)
    val shapesWithScale = scanShapes(rng)
    val shapes = shapesWithScale.map(_._1)
    val bigCtx = Ctx(spark, big)
    val baseCtx = Ctx(spark, base)

    val c0 = System.nanoTime()
    val fails = collection.mutable.ArrayBuffer[String]()
    baseCtx.bindSql()
    val want = collectAll(baseCtx, shapes, fails)
    bigCtx.bindSql()
    val got = collectAll(bigCtx, shapes, fails)
    shapesWithScale.foreach { case (s, scales) =>
      for (g <- got.get(s.name); w <- want.get(s.name)) {
        // count(*)-style integral measures are keys; scale them too
        val wantScaled = Core.Canon(w.rows.map { case (k, n) =>
          (k.zipWithIndex.map { case (v, i) => scaleKey(s.name, i, v, env.replicas) }, n) })
        Core.compare(g, wantScaled, j => if (scales.lift(j).getOrElse(false)) env.replicas else 1.0)
          .foreach(r => fails += s"${s.name}: x${env.replicas} != ${env.replicas} * base: $r")
      }
    }
    env.spans.add(0L, "check", c0, System.nanoTime())

    val gc0 = Core.gcMs()
    val (ops, window) = closedLoop(env, bigCtx, shapes, rng, minCycles = 3)
    Outcome(reps, pre, ops, window, tailPct = 75, (Core.gcMs() - gc0).toDouble,
      checksRun = shapes.size, fails.toVector, eligible = 0, unrouted = Nil,
      resultRows = got.map { case (k, v) => k -> v.rows.size.toLong }, ingest = None)
  }

  /** Integral result cells that are counts of orders scale with the
    * replica count; every other key cell (dims, distinct counts) must
    * match exactly. Index `i` counts key cells in result-column order. */
  private val countKeyCells: Map[String, Set[Int]] = Map(
    "scan_distinct" -> Set(2), // order_priority, unique_customers, order_count
    "scan_variance" -> Set(1), // market_segment, order_count
    "scan_geo" -> Set(2))      // region_name, nation_name, order_count
  private def scaleKey(shape: String, i: Int, v: String, r: Int): String =
    if (countKeyCells.getOrElse(shape, Set.empty)(i)) (v.toLong * r).toString else v
}
