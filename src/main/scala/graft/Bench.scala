package graft

/** Bench main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Queries are evaluated through the `noop` sink — `count()` would let
  * column pruning skip most of the computed columns, under-measuring
  * real work. Materializations are built once before timing (the
  * analogue of the reference's offline pipeline refresh — routed
  * queries are *supposed* to show the routed speed, README.md:424-431).
  *
  * == Measurement protocol (r12, VERDICT r11 tasks 1/5) ==
  *  1. WARM-UP sweep: every query runs once, untimed. This pays JIT,
  *     code-cache and scan-cache warmup AND builds every once-per-JVM
  *     staged artifact (band indexes, label stores, span/bm25/segment
  *     state, stream feeds).
  *  2. TIMED sweeps: 5 interleaved sweeps (A B C … ×5) — every query
  *     gets ≥5 samples; `queries` reports the min, `medians` the
  *     median, `runs` every sample in sweep order. Interleaving keeps
  *     repeats of one query ~a full sweep apart, so a host-contention
  *     spike shorter than a sweep cannot set the recorded number.
  *     For queries that consume a staged artifact, these samples are
  *     the SERVING cost (probe / replay of the maintained store) —
  *     the deployed recurring shape.
  *  3. DEDICATED STAGE PASS: the staging pipelines themselves (state
  *     builds + incremental folds — the one-time and per-delta costs
  *     the serving numbers amortize) are re-measured in isolation:
  *     staging is cleared and rebuilt SPARK_GRAFT_STAGE_RUNS (≥5)
  *     times per stage-owning query; `stages` reports per-stage
  *     MEDIANS, `stage_runs` every rep. r11 reported n=1 stage splits
  *     sampled inside a contended full sweep, which is how the spans
  *     fold's 2× regression hid behind ambient drift.
  *
  * == Host controls (r15 suite-level, r17 stage-level) ==
  * `host_control` is the median per-query min ratio vs a committed
  * baseline BENCH_LOCAL artifact — it normalizes the INTERLEAVED
  * suite. r16 proved it does NOT transfer to the dedicated stage pass
  * run minutes later in the same session (suite ratio 0.851 while the
  * stage passes ran 1.3–1.8× hot, so dividing by it moved the
  * stream_fold reading AWAY from its band). So the stage pass carries
  * its OWN control: a fixed mid-weight witness query (~2–3 s at
  * sf0.1; sub-second witnesses over-read bursts, r16) brackets every
  * stage rep, each rep's readings divide by the host-speed ratio
  * measured in that rep's own time window, and `stages_normalized` is
  * the per-stage median of those normalized reps. The BAND GATE
  * itself reads `stages_min` (SCALE.md r17): stage timings are
  * lower-bounded, bursts only add, and r17 measured minutes-long
  * bursts INSIDE reps that boundary witnesses read through — the min
  * over dedicated full-rebuild reps is burst-robust while remaining
  * fully sensitive to real regressions, which elevate every rep. The
  * witness and `stages_normalized` stay as window evidence.
  */
object Bench {

  private[graft] def median(v: Vector[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Per-stage median of rep-control-normalized readings, paired by
    * the rep INDEX each reading came from (ADVICE r17 medium: a failed
    * stage-pass rep shortens that query's sample vector, and a
    * positional zip then divides each surviving reading by the WRONG
    * rep's control). `repIdx(q)` lists the rep index of each recorded
    * sample in order; a stage whose reading count disagrees with the
    * query's recorded rep indices reports -1 rather than mispair. */
  private[graft] def normalizedMedians(
      samples: Seq[(String, Seq[(String, Vector[Double])])],
      repIdx: Map[String, Vector[Int]],
      controls: Vector[Double]): Seq[(String, Seq[(String, Double)])] =
    samples.map { case (q, ss) =>
      val idxs = repIdx.getOrElse(q, Vector.empty)
      q -> ss.map { case (st, v) =>
        st -> (if (v.size == idxs.size && idxs.forall(_ < controls.size))
                 median(v.zip(idxs).map { case (raw, i) => raw / controls(i) })
               else -1.0)
      }
    }

  /** Self-evaluating band gate (r17; limits from [[BandBudgets]] since
    * r18 — one structure both enforced and printed, VERDICT r17
    * task 4): the budgets applied to `stages_min`, so the artifact
    * declares its own verdict instead of leaving the arithmetic to a
    * reader. Triples are [reading, limit, pass]. The bm25 fold band
    * additionally requires ZERO bucket compactions in every rep
    * (ADVICE r17: `all_pass` used to check only the timings, so it
    * could mask a compaction regression that invalidates the fold
    * reading) — emitted as its own [total, 0, pass] triple. */
  private[graft] def evalBands(
      stageMins: Seq[(String, Seq[(String, Double)])],
      counters: Map[String, Map[String, Vector[Long]]]): String = {
    def minOf(q: String, st: String): Option[Double] =
      stageMins.collectFirst { case (`q`, ss) => ss }.flatMap(
        _.collectFirst { case (`st`, v) if v >= 0 => v })
    val parts = BandBudgets.stageBands.map { b =>
      minOf(b.query, b.stage)
        .map(v => s""""${b.name}":[${f"$v%.3f"},${b.limit},${v <= b.limit}]""")
        .getOrElse(s""""${b.name}":null""") // a missing stage FAILS all_pass
    }
    val comp = counters.get(BandBudgets.bm25CompactionQuery)
      .flatMap(_.get(BandBudgets.bm25CompactionCounter))
    val compJson = comp
      .map(v => s""""bm25_zero_compactions":[${v.sum},0,${v.forall(_ == 0L)}]""")
      .getOrElse(""""bm25_zero_compactions":null""")
    val allPass = BandBudgets.stageBands.forall(b =>
      minOf(b.query, b.stage).exists(_ <= b.limit)) &&
      comp.exists(_.forall(_ == 0L))
    s"""{${(parts :+ compJson).mkString(",")},"all_pass":$allPass}"""
  }

  /** Top-level `"key":{...numbers...}` map extracted with a
    * balanced-brace scan anchored on the writer's own key shape —
    * the r16 parse took `substring` to the FIRST '}' after the first
    * `"queries"`, which silently degrades on any format evolution
    * (ADVICE r16). Returns empty on a missing key; the caller gates
    * plausibility. */
  private[graft] def numberMap(txt: String, key: String): Map[String, Double] = {
    val anchor = "\"" + key + "\":{"
    val start = txt.indexOf(anchor)
    if (start < 0) return Map.empty
    val open = start + anchor.length - 1
    var depth = 0
    var end = -1
    var j = open
    while (j < txt.length && end < 0) {
      txt.charAt(j) match {
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) end = j
        case _ =>
      }
      j += 1
    }
    if (end < 0) return Map.empty
    // value class must admit Scala's Double.toString E-notation incl.
    // negative exponents ("1.0E-5" for sub-1e-3 timings)
    "\"([A-Za-z0-9_]+)\":(-?[0-9][0-9.eE+-]*)".r
      .findAllMatchIn(txt.substring(open + 1, end))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Host-drift baseline every control in this run divides by:
    * pinned via SPARK_GRAFT_BENCH_BASELINE (ADVICE r16 — a re-run
    * after committing the current round's own artifact otherwise
    * self-compares at ~1.0, masking drift exactly during A/B triage),
    * else the newest committed BENCH_LOCAL_r*.json in cwd. Returns
    * (name, per-query min map, per-query median map). A parse that
    * yields an implausibly small queries map fails VISIBLY to stderr
    * instead of silently emitting a null control. */
  private[graft] def loadBaseline(sfDir: String): Option[(String, Map[String, Double], Map[String, Double])] = {
    val pat = "BENCH_LOCAL_r(\\d+)\\.json".r
    val file = sys.env.get("SPARK_GRAFT_BENCH_BASELINE")
      .map(p => new java.io.File(p))
      .orElse {
        Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
          .flatMap(f => f.getName match {
            case pat(n) => Some((n.toInt, f)); case _ => None
          }).sortBy(-_._1).headOption.map(_._2)
      }
    file.flatMap { f =>
      try {
        val txt = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val qs = numberMap(txt, "queries")
        val meds = numberMap(txt, "medians")
        if (qs.size < 20) sys.error(
          s"implausible queries map (${qs.size} entries) — format drift?")
        // a control vs a different scale factor is not host drift, it
        // is the workload itself — refuse rather than emit garbage
        // (smoke runs at sf0.001 otherwise divide by sf0.1 numbers)
        val sfPat = "\"sf\":\"([^\"]+)\"".r
        sfPat.findFirstMatchIn(txt).map(_.group(1)).filter(_ != sfDir)
          .foreach(bSf => sys.error(s"baseline measured at $bSf, this run is $sfDir"))
        Some((f.getName, qs, meds))
      } catch { case e: Throwable =>
        System.err.println(
          s"[bench] baseline load FAILED (${f.getName}): ${e.getMessage}")
        None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    // untimed setup: catalog registration + rollup/baseline build
    SparkEntry.catalog(spark, sfDir)
    SparkEntry.matCatalog(spark, sfDir)

    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt)
    val stageRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_STAGE_RUNS", "5").toInt)

    // staged-artifact dependents run right after the query that owns
    // the staging cost, so the owner's warm-up run (not the
    // dependent's) pays the pipeline: q_curation and q_train_export
    // reuse q_dedup_clusters' staged labels via the batch manifest,
    // and alphabetically they would run first. An unknown owner fails
    // loudly (ADVICE r9).
    val runAfterOwner = Map(
      "q_curation" -> "q_dedup_manifest",
      "q_train_export" -> "q_dedup_manifest")
    runAfterOwner.foreach { case (dep, owner) =>
      require(SparkEntry.queries.contains(owner) && SparkEntry.queries.contains(dep),
        s"bench order: unknown query in dependency $dep -> $owner") }
    val byName = SparkEntry.queries.toSeq.sortBy(_._1)
    val ordered = byName.filterNot { case (n, _) => runAfterOwner.contains(n) }
      .flatMap { case e @ (n, _) =>
        e +: byName.filter { case (d, _) => runAfterOwner.get(d).contains(n) } }

    // failed runs never participate in the min/median (ADVICE r3); a
    // query with zero successful runs reports -1 and lands in "errors"
    val lastErr = scala.collection.mutable.LinkedHashMap[String, String]()
    val times = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    ordered.foreach { case (name, _) => times(name) = Vector.empty }
    def runOne(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        record: Boolean): Unit = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        if (record) times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        lastErr(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // 1. warm-up (untimed; builds every staged artifact)
    ordered.foreach { case (name, fn) => runOne(name, fn, record = false) }

    // stage-owning = wrote a stageTimings entry during warm-up; known
    // BEFORE the timed sweeps so a misconfigured witness fails in
    // seconds, not after the ~90 min suite
    val stageOwners = ordered.filter { case (n, _) =>
      ExtQueries.stageTimings.contains(n) }
    // Stage witness (VERDICT r16 task 1, header above): mid-weight,
    // staging-free (the stage pass clears staging every rep — a
    // staged-artifact consumer would time its own rebuild), and not a
    // stage owner (its clock must not include the measured work).
    // q_bigram_quality is a pure two-pass LM aggregate over the
    // documents table, ~2.5-3 s at sf0.1.
    val witnessName = sys.env.getOrElse("SPARK_GRAFT_STAGE_WITNESS", "q_bigram_quality")
    val witnessFn = SparkEntry.queries.getOrElse(witnessName,
      sys.error(s"unknown stage witness $witnessName"))
    require(!stageOwners.exists(_._1 == witnessName),
      s"stage witness $witnessName owns a stage — pick a staging-free query")

    // 2. timed interleaved sweeps. Sweep 1 additionally records each
    // query's SCHEDULING SHAPE — Spark job and task counts — for the
    // artifact's scaling block (VERDICT r18 task 2: per-query 8c/32c
    // wall ratios read ≈1 at sf0.1 because every query is floor-
    // dominated; task counts let the driver separate task-parallel
    // queries from driver-bound ones without a second SF). Counters
    // snapshot AFTER the clock stops and the listener bus drains
    // deterministically (ADVICE r18 — no sleep race), so nothing rides
    // the recorded seconds; later sweeps run exactly as before.
    val shape = new org.apache.spark.scheduler.SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        tasks.addAndGet(e.stageInfo.numTasks)
    }
    val nJobs = scala.collection.mutable.LinkedHashMap[String, Int]()
    val nTasks = scala.collection.mutable.LinkedHashMap[String, Int]()
    spark.sparkContext.addSparkListener(shape)
    for (r <- 1 to runs) {
      for ((name, fn) <- ordered) {
        runOne(name, fn, record = true)
        if (r == 1) {
          org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
          val j = shape.jobs.get; val t = shape.tasks.get
          nJobs(name) = j - nJobs.values.sum
          nTasks(name) = t - nTasks.values.sum
        }
      }
      if (r == 1) spark.sparkContext.removeSparkListener(shape)
    }

    // 3. dedicated stage pass: per rep, clear staging and re-run every
    // stage-owning query so its build records fresh per-stage clocks,
    // with a witness probe BRACKETING each rep (before rep 1 and after
    // every rep) so each rep carries a control from its own window.
    val stageSamples = scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.LinkedHashMap[String, Vector[Double]]]()
    // counters (counts, not seconds) collected apart from the stage
    // durations so artifact consumers never misread a count as seconds
    val counterSamples = scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.LinkedHashMap[String, Vector[Long]]]()
    // which rep index each recorded sample came from, per query —
    // normalization pairs readings with controls BY INDEX (ADVICE r17:
    // a failed rep otherwise shifts every later reading onto the wrong
    // rep's control)
    val stageRepIdx = scala.collection.mutable.LinkedHashMap[String, Vector[Int]]()
    var witnessRuns = Vector.empty[Double]
    def witnessProbe(): Unit = {
      val t0 = System.nanoTime()
      try {
        witnessFn(spark, sfDir).write.format("noop").mode("overwrite").save()
        witnessRuns = witnessRuns :+ (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stage witness failed: ${e.getMessage}")
      }
    }
    witnessProbe()
    for (rep <- 0 until stageRuns) {
      ExtQueries.clearStaging()
      ExtQueries.stageTimings.clear()
      ExtQueries.stageCounters.clear()
      stageOwners.foreach { case (name, fn) =>
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          ExtQueries.stageTimings.get(name).foreach { ss =>
            stageRepIdx(name) = stageRepIdx.getOrElse(name, Vector.empty) :+ rep
            val per = stageSamples.getOrElseUpdate(name,
              scala.collection.mutable.LinkedHashMap())
            ss.foreach { case (st, v) =>
              per(st) = per.getOrElse(st, Vector.empty) :+ v }
          }
          ExtQueries.stageCounters.get(name).foreach { cs =>
            val per = counterSamples.getOrElseUpdate(name,
              scala.collection.mutable.LinkedHashMap())
            cs.foreach { case (ct, v) =>
              per(ct) = per.getOrElse(ct, Vector.empty) :+ v }
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] stage pass $name failed: ${e.getMessage}")
        }
      }
      witnessProbe()
    }

    val results = times.toSeq.map { case (k, ts) =>
      (k, if (ts.isEmpty) -1.0 else ts.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val medians = times.toSeq.map { case (k, ts) =>
      "\"" + k + "\":" + f"${median(ts)}%.4f"
    }.mkString("{", ",", "}")
    val runsJson = times.toSeq.map { case (k, ts) =>
      "\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").replace("\r", " ").take(200)
    // a query that failed in one sweep but succeeded in another is a
    // transient flake, not a hard failure — "errors" lists only queries
    // with ZERO successful runs; flakes are visible as a short "runs"
    // array (ADVICE r4)
    val errs = lastErr.filter { case (k, _) => times(k).isEmpty }
      .map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // the reference's headline claim (README.md:424-431, "10-100x for
    // common aggregation patterns"), MEASURED (VERDICT r6 task 1):
    // same query, plain catalog (full expansion) vs materialized
    // catalog (5-row rollup scan), on an orders table replicated R=512x
    // (~77M rows / ~1.1GB parquet at sf0.1) so the fact-scan side has
    // real work to skip.
    val routing =
      try Some(RoutingBench.measure(spark, sfDir,
        sys.env.getOrElse("SPARK_GRAFT_ROUTING_REPLICAS", "512").toInt))
      catch { case e: Throwable =>
        System.err.println(s"[bench] routing bench failed: ${e.getMessage}"); None }
    // per-run samples for BOTH sides (VERDICT r14 task 4) plus the
    // medians (VERDICT r16 task 4): the band, not just the min, is the
    // artifact — the unrouted min-of-3 swung the headline 16×→33×
    // between rounds on host load alone, and the median is the
    // spread-robust second statistic for bursty hosts
    val routingJson = routing.map { r =>
      val ur = r.unroutedRuns.map(x => f"$x%.3f").mkString("[", ",", "]")
      val rr = r.routedRuns.map(x => f"$x%.3f").mkString("[", ",", "]")
      val uo = r.unroutedOutliers.map(x => f"$x%.3f").mkString("[", ",", "]")
      val ro = r.routedOutliers.map(x => f"$x%.3f").mkString("[", ",", "]")
      f""","routing_speedup":${r.speedup}%.2f,"routing":{"replicas":${r.replicas},"unrouted_sec":${r.unroutedSec}%.3f,"routed_sec":${r.routedSec}%.3f,"unrouted_median":${median(r.unroutedRuns)}%.3f,"routed_median":${median(r.routedRuns)}%.3f,"unrouted_runs":$ur%s,"routed_runs":$rr%s,"unrouted_outliers":$uo%s,"routed_outliers":$ro%s}"""
    }.getOrElse(""","routing_speedup":-1""")

    // ---- host controls ----
    val baseline = loadBaseline(sfDir)
    // suite-level control (r15): median per-query min ratio vs the
    // baseline, with the pure-scan witness queries' ratios alongside
    val hostControlJson = baseline.flatMap { case (fname, prev, _) =>
      val ratios = results.flatMap { case (k, cur) =>
        prev.get(k).filter(p => p > 0 && cur > 0).map(p => k -> cur / p) }
      if (ratios.isEmpty) None
      else {
        val med = median(ratios.map(_._2).toVector)
        val wits = Seq("q_stg_customers", "q_mv_segment")
          .flatMap(w => ratios.collectFirst {
            case (`w`, r) => "\"" + w + "\":" + f"$r%.3f" })
          .mkString("{", ",", "}")
        Some(s"""{"baseline":"$fname","median_min_ratio":${f"$med%.3f"},"n":${ratios.size},"witnesses":$wits}""")
      }
    }.getOrElse("null")
    // stage-level control (r17): witness medians + per-rep host-speed
    // ratios vs the baseline's witness median. rep i's control is the
    // mean of the witness runs bracketing it, divided by the quiet
    // baseline value — >1 means rep i's window ran slow.
    val witSuiteMed = median(times.getOrElse(witnessName, Vector.empty))
    val witMed = median(witnessRuns)
    val witBase = baseline.flatMap { case (_, prevQ, prevM) =>
      prevM.get(witnessName).orElse(prevQ.get(witnessName)).filter(_ > 0) }
    val repControls: Option[Vector[Double]] = witBase.flatMap { wb =>
      if (witnessRuns.size == stageRuns + 1)
        Some((0 until stageRuns).toVector.map(i =>
          ((witnessRuns(i) + witnessRuns(i + 1)) / 2) / wb))
      else None // a witness rep failed — per-rep pairing is broken
    }
    val stageWitnessJson = {
      val runsS = witnessRuns.map(x => f"$x%.3f").mkString("[", ",", "]")
      val baseS = witBase.map(b => f"$b%.4f").getOrElse("null")
      val shc = witBase.filter(_ => witMed > 0)
        .map(b => f"${witMed / b}%.3f").getOrElse("null")
      val svs = if (witSuiteMed > 0 && witMed > 0)
        f"${witMed / witSuiteMed}%.3f" else "null"
      val prc = repControls.map(_.map(c => f"$c%.3f")
        .mkString("[", ",", "]")).getOrElse("null")
      s"""{"name":"$witnessName","runs":$runsS,"median":${f"$witMed%.3f"},"suite_median":${f"$witSuiteMed%.3f"},"baseline_median":$baseS,"stage_host_control":$shc,"stage_vs_suite":$svs,"per_rep_control":$prc}"""
    }

    // per-stage MEDIANS from the dedicated pass (backward-compatible
    // scalar shape), raw and normalized-by-rep-control, with every
    // rep alongside
    val stageMedians: Seq[(String, Seq[(String, Double)])] =
      stageSamples.toSeq.sortBy(_._1).map { case (q, ss) =>
        q -> ss.toSeq.map { case (st, v) => st -> median(v) } }
    // per-stage MIN over the dedicated reps — the band-gate statistic
    // (r17): stage timings are lower-bounded, so host contention only
    // ever ADDS time, and the r17 run showed minutes-long bursts INSIDE
    // reps that the boundary witnesses read right through (rep 5 ran
    // 2.2x slow on every substage incl. trivial ones while its control
    // read 0.987). Each rep is a complete fresh rebuild, so the min is
    // a valid full measurement of the op — the same policy as the
    // suite's min-of-5 — while staying exactly as sensitive to a real
    // regression, which elevates every rep including the quietest.
    val stageMins: Seq[(String, Seq[(String, Double)])] =
      stageSamples.toSeq.sortBy(_._1).map { case (q, ss) =>
        q -> ss.toSeq.map { case (st, v) =>
          st -> (if (v.isEmpty) -1.0 else v.min) } }
    val stageNormMedians: Option[Seq[(String, Seq[(String, Double)])]] =
      repControls.map { cs =>
        normalizedMedians(
          stageSamples.toSeq.sortBy(_._1).map { case (q, ss) => q -> ss.toSeq },
          stageRepIdx.toMap, cs) }
    def renderStages(src: Seq[(String, Seq[(String, Double)])]): String =
      src.map { case (q, ss) =>
        "\"" + q + "\":" + ss.map { case (k, v) =>
          "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    val stages = renderStages(stageMedians)
    val stagesMin = renderStages(stageMins)
    val stagesNormalized =
      stageNormMedians.map(renderStages).getOrElse("null")
    val stageRunsJson = stageSamples.toSeq.sortBy(_._1).map { case (q, ss) =>
      "\"" + q + "\":" + ss.map { case (k, v) =>
        "\"" + k + "\":" + v.map(x => f"$x%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    // counts live under their own field, NOT in the seconds-typed
    // stages map (ADVICE r14) — every rep's value, they're tiny
    val countersJson = counterSamples.toSeq.sortBy(_._1).map { case (q, cs) =>
      "\"" + q + "\":" + cs.map { case (k, v) =>
        "\"" + k + "\":" + v.mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")

    // Self-evaluating band gate (r17; see evalBands — budgets live in
    // BandBudgets, the one structure enforced AND printed). Only
    // meaningful at the SF the bands were measured at (sf0.1); other
    // SFs emit null.
    val bandsJson = if (!sfDir.contains("sf0.1")) "null" else
      evalBands(stageMins,
        counterSamples.map { case (q, cs) => q -> cs.toMap }.toMap)
    // per-query scheduling shape from sweep 1 (VERDICT r18 task 2) —
    // ADDITIVE fields; the existing queries/medians/runs maps are
    // untouched so PERF keeps its per-query round-over-round table
    val nJobsJson = nJobs.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val nTasksJson = nTasks.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"medians":$medians,"runs":$runsJson,"n_jobs":$nJobsJson,"n_tasks":$nTasksJson,"errors":$errs$routingJson,"stages":$stages,"stages_min":$stagesMin,"stages_normalized":$stagesNormalized,"stage_runs":$stageRunsJson,"counters":$countersJson,"stage_witness":$stageWitnessJson,"host_control":$hostControlJson,"bands":$bandsJson,"sf":"$sfDir"}"""
    // the artifact must survive stdout truncation (BENCH_r05 lost its
    // tail once the per-run arrays made the line long) — also write it
    // to a file so the full queries/runs/errors maps are recoverable
    val out = java.nio.file.Paths.get("target/bench_result.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, json + "\n")

    // compact summary as the FINAL line (r14, VERDICT r13 task 2): the
    // full line outgrew the driver's 2000-char tail window at 135
    // queries. This line carries the headline numbers (total,
    // query/error counts, routing with both sides' bands and medians,
    // the BUDGET-PINNED stage medians raw AND normalized, the stage
    // witness control, counters) — the complete maps stay in the full
    // line above and in target/bench_result.json.
    // Stages are CAPPED to the budget-pinned queries (ADVICE r14) —
    // the pinned set is exactly what the round contract audits: spans
    // fold ≤6s, clusters fold ≤4s, bm25 write<15/fold<10, stream_fold
    // band (SCALE.md).
    val pinned = Set("q_dup_spans_incremental", "q_dedup_clusters_incremental",
      "q_bm25_incremental", "q_stream_curation")
    // the band-checked stage keys — the minimum the summary must carry
    val bandStages = Map(
      "q_dup_spans_incremental" -> Set("fold"),
      "q_dedup_clusters_incremental" -> Set("fold"),
      "q_bm25_incremental" -> Set("write_state", "fold"),
      "q_stream_curation" -> Set("stream_fold"))
    def onlyQueries(src: Seq[(String, Seq[(String, Double)])], keep: Set[String]) =
      src.filter { case (q, _) => keep(q) }
    def onlyBand(src: Seq[(String, Seq[(String, Double)])]) =
      src.flatMap { case (q, ss) =>
        bandStages.get(q).map(ks =>
          q -> ss.filter { case (k, _) => ks(k) })
      }.filter(_._2.nonEmpty)
    val pinnedCounters = counterSamples.toSeq.sortBy(_._1)
      .filter { case (q, _) => pinned(q) }.map { case (q, cs) =>
        "\"" + q + "\":" + cs.map { case (k, v) =>
          "\"" + k + "\":" + v.mkString("[", ",", "]")
        }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    val witCompact = {
      val shc = witBase.filter(_ => witMed > 0)
        .map(b => f"${witMed / b}%.3f").getOrElse("null")
      val svs = if (witSuiteMed > 0 && witMed > 0)
        f"${witMed / witSuiteMed}%.3f" else "null"
      s"""{"name":"$witnessName","median":${f"$witMed%.3f"},"stage_host_control":$shc,"stage_vs_suite":$svs}"""
    }
    def summaryWith(st: String, stMin: String, stN: String, ct: String) =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${lastErr.count { case (k, _) => times(k).isEmpty }}$routingJson,"stages":$st,"stages_min":$stMin,"stages_normalized":$stN,"stage_witness":$witCompact,"counters":$ct,"host_control":$hostControlJson,"bands":$bandsJson,"sf":"$sfDir","detail":"target/bench_result.json"}"""
    val normBand = stageNormMedians
      .map(s => renderStages(onlyBand(s))).getOrElse("null")
    // the band-gate statistic always rides the summary: min over reps
    // for the band stages (SCALE.md r17 band rule)
    val minBand = renderStages(onlyBand(stageMins))
    // degradation ladder, most→least informative, first fit ≤1600 of
    // the driver's 2000-char tail window (r17: the r16 summary fit
    // 1800 but an 800-char post-summary WARN evicted its head — the
    // log-level clamp below is the real fix; the smaller cap is slack.
    // ADVICE r17: the cap now matches this comment — 1900 left only
    // 100 chars of slack, smaller than the WARN that already failed)
    val candidates = Seq(
      summaryWith(renderStages(onlyQueries(stageMedians, pinned)), minBand, normBand, pinnedCounters),
      summaryWith(renderStages(onlyBand(stageMedians)), minBand, normBand, pinnedCounters),
      summaryWith(renderStages(onlyBand(stageMedians)), minBand, normBand, "{}"),
      summaryWith("{}", minBand, "null", "{}"))
    val summary = candidates.find(_.length <= 1600).getOrElse(candidates.last)
    if (summary != candidates.head)
      System.err.println(s"[bench] summary degraded to ${summary.length} chars " +
        "(full maps remain in the long line and target/bench_result.json)")

    // the JSON lines are the LAST stdout acts, after all Spark activity
    // is quiesced: r12 lost the tail to a listener-bus stack trace;
    // r16 lost the summary's HEAD to a StateStore maintenance WARN
    // logged AFTER the summary at JVM shutdown (VERDICT r16 task 2).
    // Root level ERROR silences late maintenance/shutdown threads that
    // outlive spark.stop(); stop() quiesces everything stoppable.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(json)
    println(summary)
    System.out.flush()
  }
}
