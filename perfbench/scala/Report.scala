package graftbench

import scala.jdk.CollectionConverters._

/** Turns a workload's outcome into end-to-end metrics and, for the
  * traced run, per-layer metrics. */
final case class Report(env: Env, out: Outcome, sessionReadyS: Double) {
  import Core.{mean, median}

  private val ok = out.ops.filter(_.ok)
  private val lat = ok.map(_.wallMs)
  /** Ops the traced run recorded listener events for. */
  private val traced = ok.filter(_.traced)
  val attempted: Int = out.ops.size + out.checksRun
  val failed: Int = out.ops.count(!_.ok) + out.checkFailures.size

  private val timedBatches: Vector[BatchRec] = out.ingest.toVector.flatMap(i =>
    env.probe.batches.asScala.toVector.slice(i.firstBatchRec, i.firstBatchRec + i.batches))

  lazy val endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", sessionReadyS + out.preSetupS + median(out.programSetupS), "s"),
    ("latency_p50_ms", Core.hdPercentile(lat, 50), "ms"),
    ("latency_tail_ms", Core.hdPercentile(lat, out.tailPct), "ms"),
    ("queries_per_s", ok.size / out.windowS, "1/s"),
    ("fail_ratio", failed.toDouble / attempted, "ratio"),
    ("peak_rss_mb", Core.peakRssMb(), "MB"),
    ("live_heap_mb", Core.liveHeapMb(), "MB")) ++
    out.ingest.toSeq.flatMap(i => Seq(
      ("batch_p50_s", median(timedBatches.map(_.triggerMs / 1e3)), "s"),
      ("ingest_docs_per_s", i.docs / i.drainS, "docs/s")))

  /** Catalyst phases of each op's `noop` write, matched on the epoch-ms
    * window of its execute step. */
  private lazy val phaseOf: Map[String, PhaseRec] = {
    val ph = env.probe.phases.asScala.toVector
    traced.flatMap(r => ph.find(p => p.startMs >= r.execStartMs - 1 && p.endMs <= r.execEndMs + 1)
      .map(r.tag -> _)).toMap
  }

  private def catalystMs(r: OpRec): Double = phaseOf.get(r.tag).map(_.totalMs.toDouble).getOrElse(0.0)

  /** Ops whose build + Catalyst time exceeds their wall time (must be 0). */
  lazy val negativeExecOps: Int = traced.count(r => r.wallMs - r.buildMs - catalystMs(r) < -1e-9)

  def layers: Seq[(String, Double)] = {
    env.probe.drain()
    // catalyst spans under each op's execute span, so execute self time is exec.ms
    traced.foreach(r => phaseOf.get(r.tag).foreach { p =>
      val s = r.builtNs + (p.startMs - r.execStartMs) * 1000000L
      val a = math.max(r.builtNs, s)
      env.spans.executeOf.get(r.tag).foreach(id =>
        env.spans.add(id, "catalyst", a, math.min(r.endNs, a + p.totalMs * 1000000L)))
    })
    val spanMs = env.spans.all.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => (s.endNs - s.startNs) / 1e6) }
    val self = env.spans.selfMs
    val execIds = traced.flatMap(r => env.spans.executeOf.get(r.tag)).toSet
    val execSelf = env.spans.all.filter(s => execIds(s.id)).map(s => self(s.id))
    val untraced = ok.filterNot(_.traced).map(_.wallMs)
    def spansMedian(n: String) = median(spanMs.getOrElse(n, Vector.empty))
    val totals = traced.map(r => env.probe.totalsFor(r.tag))
    val jobsPerOp = traced.map(r => env.probe.jobsFor(r.tag).size.toDouble)
    val resultRows = traced.map(r => out.resultRows.getOrElse(r.shape, 0L)).sum
    val phases = traced.flatMap(r => phaseOf.get(r.tag))
    val nb = math.max(1, timedBatches.size)
    val ingestJobs = env.probe.jobsFor("ingest")
    val byFile = ingestJobs.groupBy(j => Report.sourceFile(j.callSite))
    Seq(
      "spec.register_ms" -> spansMedian("spec.register"),
      "mat.build_ms" -> spansMedian("mat.build"),
      "api.build_ms" -> median(traced.filter(_.kind == "api").map(_.buildMs)),
      "sqlext.build_ms" -> median(traced.filter(_.kind == "sql").map(_.buildMs)),
      "catalyst.analysis_ms" -> median(phases.map(_.analysisMs.toDouble)),
      "catalyst.optimization_ms" -> median(phases.map(_.optimizationMs.toDouble)),
      "catalyst.planning_ms" -> median(phases.map(_.planningMs.toDouble)),
      "exec.ms" -> median(execSelf),
      "exec.jobs" -> mean(jobsPerOp),
      "exec.stages" -> mean(totals.map(_.stages.toDouble)),
      "exec.tasks" -> mean(totals.map(_.tasks.toDouble)),
      "exec.task_run_ms" -> median(totals.map(_.runMs.toDouble)),
      "exec.scheduler_wait_ms" -> median(totals.map(_.waitMs.toDouble)),
      "exec.input_bytes" -> mean(totals.map(_.inputBytes.toDouble)),
      "exec.input_rows" -> mean(totals.map(_.inputRows.toDouble)),
      "exec.rows_read_per_result_row" -> (if (resultRows > 0) totals.map(_.inputRows).sum.toDouble / resultRows else 0.0),
      "exec.shuffle_write_bytes" -> mean(totals.map(_.shuffleWriteBytes.toDouble)),
      "exec.spill_bytes" -> mean(totals.map(_.spillBytes.toDouble)),
      "mat.route_hit_ratio" -> (if (out.eligible == 0) 0.0
        else (out.eligible - out.unrouted.size).toDouble / out.eligible),
      "streaming.trigger_ms" -> median(timedBatches.map(_.triggerMs.toDouble)),
      "streaming.add_batch_ms" -> median(timedBatches.map(_.addBatchMs.toDouble)),
      "streaming.jobs_per_batch" -> (if (timedBatches.isEmpty) 0.0 else ingestJobs.size.toDouble / nb),
      "streaming.tasks_per_batch" -> (if (timedBatches.isEmpty) 0.0 else env.probe.totalsFor("ingest").tasks.toDouble / nb),
      "jvm.gc_ms" -> out.gcMs,
      "trace.latency_p50_ms" -> Core.hdPercentile(traced.map(_.wallMs), 50),
      "trace.overhead_pct" -> (if (untraced.isEmpty) 0.0
        else 100.0 * (Core.hdPercentile(traced.map(_.wallMs), 50) / Core.hdPercentile(untraced, 50) - 1.0))) ++
      byFile.toSeq.sortBy(_._1).flatMap { case (f, js) => Seq(
        s"ops.$f.jobs" -> js.size.toDouble / nb,
        s"ops.$f.job_ms" -> js.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs).toDouble).sum / nb) }
  }

  def json: String = {
    val e2e = Json.obj(endToEnd.map { case (n, v, u) => n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)
    val layer = if (env.traced) Json.obj(layers.map { case (n, v) => n -> Json.num(v) }: _*) else "{}"
    Json.obj(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "checks_run" -> out.checksRun.toString,
      "check_failures" -> Json.arr(out.checkFailures.map(Json.str)),
      "op_errors" -> Json.arr(out.ops.filterNot(_.ok).take(5).map(r => Json.str(s"${r.shape}: ${r.error}"))),
      "ops" -> out.ops.size.toString,
      "window_s" -> Json.num(out.windowS),
      "tail_pct" -> Json.num(out.tailPct),
      "session_ready_s" -> Json.num(sessionReadyS),
      "input_gen_s" -> Json.num(out.preSetupS),
      "setup_reps_s" -> Json.arr(out.programSetupS.map(Json.num)),
      "span_totals_s" -> Json.obj(env.spans.all.filter(_.parent == 0L).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, ss) => n -> Json.num(ss.map(x => (x.endNs - x.startNs) / 1e9).sum) }: _*),
      "unrouted_shapes" -> Json.arr(out.unrouted.map(Json.str)),
      "shape_p50_ms" -> Json.obj(ok.groupBy(_.shape).toSeq.sortBy(_._1)
        .map { case (n, rs) => n -> Json.num(median(rs.map(_.wallMs))) }: _*),
      "exec_negative_ops" -> (if (env.traced) negativeExecOps.toString else "null"),
      "end_to_end" -> e2e,
      "per_layer" -> layer)
  }
}

object Report {
  private val file = """at ([A-Za-z0-9_$]+)\.scala:""".r
  /** Source file named in a job's short call site, e.g. `Bm25`. */
  def sourceFile(callSite: String): String =
    file.findFirstMatchIn(callSite).map(_.group(1)).getOrElse("other")
}
