package graftbench

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.MetricViewCatalog

/** `ingest_mixed`: the nine-family ingest daemon drains seeded arrival
  * batches over offline state built from the rest of the corpus, while
  * a second client thread runs routed `MEASURE()` queries over the
  * stream-maintained `mv_corpus` rollup plus the daemon status table. */
object Ingest {

  /** Batch 1 is drained untimed, so JIT and codegen warm-up lands
    * outside the measured drain. */
  val warmBatches = 1
  val families = Seq("dedup_index", "clusters", "drift", "spans", "segments", "bm25",
    "dsir", "fingerprints", "metrics")
  private val dsirPred: Column = col("lang") === "en"

  /** Cluster keys (first and last three words) plus the per-document
    * quality score the cluster family carries. */
  def keyedOf(df: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    df.select(col("doc_id"),
      array_join(slice(words, 1, 3), " ").as("k1"),
      array_join(slice(reverse(words), 1, 3), " ").as("k2"))
      .join(graft.ops.TextOps.textStats(df).select(col("doc_id"), col("quality_score")), "doc_id")
  }

  /** Ledger roots `ContinuousIngest.status` reads, by family. */
  def statusRoots(p: String): Map[String, String] = Map(
    "dedup_index" -> s"$p/index", "clusters" -> s"$p/state/labels", "drift" -> s"$p/drift",
    "spans" -> s"$p/spans", "segments" -> s"$p/segs", "bm25" -> s"$p/bm25",
    "dsir" -> s"$p/dsir", "fingerprints" -> s"$p/fps")

  /** Offline state for every family, built from `corpus` under `p`, and
    * the corpus view's rollup seeded through the incremental
    * materializer. Returns the live catalog that routes to it. */
  private def offline(env: Env, corpusDir: String, p: String, parent: Long): MetricViewCatalog = {
    val spark = env.spark
    val corpus = spark.read.parquet(corpusDir)
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f; env.spans.add(parent, name, t0, System.nanoTime())
    }
    timed("ops.offline.dedup_index")(graft.ops.IncrementalDedup.writeIndex(corpus, s"$p/index"))
    timed("ops.offline.clusters")(graft.ops.IncrementalClusters.writeState(keyedOf(corpus), "doc_id",
      Seq("k1", "k2"), s"$p/state", carryCols = Seq("quality_score")))
    timed("ops.offline.drift")(graft.ops.DriftStore.writeProfile(corpus, s"$p/drift"))
    timed("ops.offline.spans")(graft.ops.IncrementalSpans.writeState(corpus.select("doc_id", "text"), s"$p/spans"))
    timed("ops.offline.segments")(graft.ops.IncrementalSegments.writeState(
      corpus.select("doc_id", "source", "text"), s"$p/segs"))
    timed("ops.offline.bm25")(graft.ops.Bm25Index.writeState(corpus.select("doc_id", "source", "text"), s"$p/bm25"))
    timed("ops.offline.dsir")(graft.ops.DsirStore.writeCounts(corpus, dsirPred, s"$p/dsir"))
    timed("ops.offline.fingerprints")(graft.ops.FingerprintStore.writeState(
      corpus.select("doc_id", "source", "text"), s"$p/fps"))
    val schema = corpus.schema
    val cat = new MetricViewCatalog(spark,
      { case "documents" => corpus; case n => sys.error(s"no source $n") },
      Some(s"$p/metrics"),
      streamSource = {
        case "documents" => Some(spark.readStream.schema(schema).parquet(corpusDir))
        case _ => None
      })
    timed("spec.register")(cat.createOrReplace("mv_corpus", graft.spec.Specs.corpusMetrics))
    timed("mat.build")(cat.refresh("mv_corpus"))
    cat
  }

  private def readerShapes(rng: Random, p: String): Vector[Shape] = {
    val lang = ("en" +: Gen.langs)(rng.nextInt(5))
    val src = s"src${rng.nextInt(Gen.nSources)}"
    Vector(
      Shape("corpus_source_where", "sql", true, c => c.spark.sql(
        s"SELECT source, MEASURE(doc_count) AS n, MEASURE(char_sum) AS chars FROM mv_corpus WHERE lang = '$lang' GROUP BY source")),
      Shape("corpus_lang_p90", "sql", true, c => c.spark.sql(
        "SELECT lang, MEASURE(char_p90) AS p90, MEASURE(doc_count) AS n FROM mv_corpus GROUP BY lang")),
      Shape("corpus_lang_where", "sql", true, c => c.spark.sql(
        s"SELECT lang, MEASURE(char_sum) AS chars FROM mv_corpus WHERE source = '$src' GROUP BY lang")),
      Shape("corpus_api_source", "api", true, c =>
        c.cat.get("mv_corpus").query(Seq("source"), Seq("doc_count", "char_p90"))),
      Shape("daemon_status", "api", false, c =>
        graft.streaming.ContinuousIngest.status(c.spark, statusRoots(p))))
  }

  def run(env: Env): Outcome = {
    val spark = env.spark
    val dataDir = s"${env.workDir}/data"
    val corpusDir = s"$dataDir/corpus"
    val g0 = System.nanoTime()
    val docs = Gen.documents(spark, env.seed, env.sf, env.cpus)
    val split = pmod(xxhash64(lit(env.seed), lit("split"), col("doc_id")), lit(4L))
    val batchOf = pmod(xxhash64(lit(env.seed), lit("batch"), col("doc_id")), lit(env.maxBatches.toLong)) + 1
    docs.filter(split === 0).write.parquet(corpusDir)
    // one file per arrival batch, as a feed directory would hold them
    val arrivals = docs.filter(split =!= 0).withColumn("batch", batchOf)
    arrivals.repartition(env.maxBatches, col("batch")).write.partitionBy("batch").parquet(s"$dataDir/feed")
    val batchDocs = spark.read.parquet(s"$dataDir/feed").groupBy("batch").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    env.spans.add(0L, "gen", g0, System.nanoTime())
    val pre = (System.nanoTime() - g0) / 1e9

    val ((cat, p), reps) = Workloads.repeatSetup(env, "state") { (dir, parent) =>
      (offline(env, corpusDir, dir, parent), dir)
    }
    val ctx = Ctx(spark, cat)
    ctx.bindSql()
    val mv = cat.get("mv_corpus")
    val im = new graft.streaming.IncrementalMaterializer(spark, s"$p/metrics", s"$p/metrics/_checkpoints")
    val schema = spark.read.parquet(corpusDir).schema
    def drainBatch(i: Int, tag: String): (Long, Long, Long) = {
      val docsIn = batchDocs.getOrElse(i, 0L)
      val stream = spark.readStream.schema(schema).parquet(s"$dataDir/feed/batch=$i")
      spark.sparkContext.setLocalProperty(Probe.TagKey, tag)
      val t0 = System.nanoTime()
      try graft.streaming.ContinuousIngest.run(stream, s"$p/index", s"$p/state", s"$p/pairs",
        s"$p/drift", s"$p/spans", keyedOf, metrics = Some((mv, im)),
        segmentsRoot = Some(s"$p/segs"), bm25Root = Some(s"$p/bm25"),
        dsir = Some((s"$p/dsir", dsirPred)), fingerprints = Some(s"$p/fps"))
      finally spark.sparkContext.setLocalProperty(Probe.TagKey, null)
      val t1 = System.nanoTime()
      env.spans.add(0L, "streaming.run", t0, t1)
      (t0, t1, docsIn)
    }

    val rng = new Random(env.seed)
    val shapes = readerShapes(rng, p)
    val fails = collection.mutable.ArrayBuffer[String]()
    // warm-up: one untimed batch and one untimed pass of the reader
    (1 to warmBatches).foreach(i => drainBatch(i, "ingest-warm"))
    Workloads.collectAll(ctx, shapes, fails)
    env.probe.drain()
    val firstTimedBatch = env.probe.batches.size

    // timed: the daemon drains on this thread while the reader loops
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerOps = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val reader = new Thread(() => {
      while (!stop.get())
        rng.shuffle(shapes).foreach { s =>
          if (!stop.get()) {
            val r = Core.timeOp(spark, ctx, s).copy(traced = env.traced)
            Workloads.opSpans(env, r)
            readerOps.add(r)
          }
        }
    }, "graftbench-reader")
    val gc0 = Core.gcMs()
    env.probe.on = env.traced
    val d0 = System.nanoTime()
    reader.start()
    val drained = collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    var next = warmBatches + 1
    while (next <= env.maxBatches &&
        (drained.size < 2 || (System.nanoTime() - d0) / 1e9 < env.seconds)) {
      drained += drainBatch(next, "ingest")
      next += 1
    }
    stop.set(true)
    reader.join()
    env.probe.drain()
    env.probe.on = false
    val drainS = (System.nanoTime() - d0) / 1e9
    val gc = (Core.gcMs() - gc0).toDouble
    val nBatches = next - 1

    // checks: every family's ledger is at the drained batch count, and
    // the stream-maintained rollup answers what the raw rows answer
    val status = graft.streaming.ContinuousIngest.status(spark, statusRoots(p)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val folds = status + ("metrics" -> im.appliedFolds("mv_corpus", "by_source_lang").size.toLong)
    families.foreach { f =>
      if (!folds.get(f).contains(nBatches.toLong))
        fails += s"status: family $f at ${folds.get(f)} applied folds, expected $nBatches"
    }
    val got = Workloads.collectAll(ctx, shapes.filter(_.eligible), fails)
    val unrouted = shapes.filter(_.eligible).filterNot(s =>
      try Workloads.readsOnlyUnder(s.build(ctx), s"$p/metrics") catch { case NonFatal(_) => false }).map(_.name)
    val seen = spark.read.parquet(corpusDir).unionByName(
      spark.read.parquet(s"$dataDir/feed").filter(col("batch") <= nBatches).drop("batch"))
    val raw = new MetricViewCatalog(spark, { case "documents" => seen; case n => sys.error(s"no source $n") })
    raw.createOrReplace("mv_corpus", graft.spec.Specs.corpusMetrics)
    val rawCtx = Ctx(spark, raw)
    rawCtx.bindSql()
    val want = Workloads.collectAll(rawCtx, shapes.filter(_.eligible), fails)
    shapes.filter(_.eligible).foreach { s =>
      for (g <- got.get(s.name); w <- want.get(s.name))
        Core.compare(g, w).foreach(r => fails += s"${s.name}: stream rollup != raw rows: $r")
    }

    env.probe.drain()
    val timedBatches = env.probe.batches.size - firstTimedBatch
    if (timedBatches != drained.size)
      fails += s"streaming progress: $timedBatches non-empty batches reported, ${drained.size} drained"
    Outcome(reps, pre, readerOps.toArray(Array.empty[OpRec]).toVector, drainS, tailPct = 90, gc,
      checksRun = families.size + shapes.count(_.eligible) + 1, fails.toVector,
      shapes.count(_.eligible), unrouted,
      resultRows = got.map { case (k, v) => k -> v.rows.size.toLong } + ("daemon_status" -> statusRoots(p).size.toLong),
      ingest = Some(IngestStats(firstTimedBatch, drained.size, drained.map(_._3).sum,
        drained.map { case (a, b, _) => (b - a) / 1e9 }.sum)))
  }
}
