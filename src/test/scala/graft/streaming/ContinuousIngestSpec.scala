package graft.streaming

import graft.SparkSpec
import graft.model.Tables
import graft.ops.{ConnectedComponents, DriftStore, DupSpans, IncrementalClusters, IncrementalDedup, IncrementalSpans}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The full ingest daemon (ContinuousIngest): ONE stream maintains
  * dedup labels, the drift profile, AND the span state — and each
  * family equals its batch re-derivation over everything written. The
  * composition inherits its contract from the per-family specs; this
  * gates that the families don't interfere when driven together. */
class ContinuousIngestSpec extends SparkSpec {

  private def keyedOf(df: DataFrame): DataFrame =
    graft.ExtQueries.clusterKeyedOf(df)

  test("one stream maintains labels + drift profile + spans, all == batch") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 4 === 0)
    val streamed = docs.filter(col("doc_id") % 4 =!= 0)
    val all = corpus.unionByName(streamed)
    val p = java.nio.file.Files.createTempDirectory("graft-cont-ingest").toString
    // offline builds, one per family
    IncrementalDedup.writeIndex(corpus, s"$p/index")
    IncrementalClusters.writeState(keyedOf(corpus), "doc_id", Seq("k1", "k2"), s"$p/state")
    DriftStore.writeProfile(corpus, s"$p/drift")
    IncrementalSpans.writeState(corpus.select("doc_id", "text"), s"$p/spans",
      n = 8, nBuckets = 16)
    (1 to 3).foreach(i => docs.filter(col("doc_id") % 4 === i)
      .coalesce(1).write.parquet(s"$p/feed/b$i"))

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$p/feed/b*")
    // fifth family (r11): the corpus metric view's rollup folds per
    // microbatch; seed it with the offline corpus first
    val cat = new graft.api.MetricViewCatalog(spark,
      { case "documents" => all; case n => sys.error(s"no source $n") },
      Some(s"$p/metrics"))
    val mv = cat.createOrReplace("mv_corpus", graft.spec.Specs.corpusMetrics)
    val im = cat.incremental.get
    im.foldBatch(mv, corpus, foldId = Some("seed"))
    // sixth family (r11): segment keeper state, seeded from the corpus
    graft.ops.IncrementalSegments.writeState(
      corpus.select("doc_id", "source", "text"), s"$p/segs")
    // seventh family (r11): the BM25 inverted index, seeded likewise
    // (default bucket count — must match the daemon's shared nBuckets)
    graft.ops.Bm25Index.writeState(
      corpus.select("doc_id", "source", "text"), s"$p/bm25")
    // eighth family (late r11): the DSIR importance model
    val dsirPred = col("lang") === "en"
    graft.ops.DsirStore.writeCounts(corpus, dsirPred, s"$p/dsir")
    // ninth family (r13): the fingerprint store behind the
    // split-leakage / corpus-diff cards
    graft.ops.FingerprintStore.writeState(
      corpus.select("doc_id", "source", "text"), s"$p/fps")
    val n = ContinuousIngest.run(stream, s"$p/index", s"$p/state",
      s"$p/pairs", s"$p/drift", s"$p/spans", keyedOf,
      spanN = 8, spanBuckets = 16, metrics = Some((mv, im)),
      segmentsRoot = Some(s"$p/segs"),
      bm25Root = Some(s"$p/bm25"),
      dsir = Some((s"$p/dsir", dsirPred)),
      fingerprints = Some(s"$p/fps"))
    assert(n == 3, s"expected 3 microbatches, got $n")
    // each fold advances its family's snapshot by exactly one version
    // (offline v1 + 3 folds)
    Seq("drift", "spans", "bm25").foreach { f =>
      assert(graft.ops.SnapshotRoot.currentVersion(s"$p/$f") == "v4",
        s"$f snapshot after 3 folds")
    }

    // fingerprint store: the stream-maintained leakage card equals one
    // from a store built over the union in one shot (pure per-document
    // rows — fold == rebuild under any arrival order)
    val fpsBatch = java.nio.file.Files
      .createTempDirectory("graft-ci-fps-batch").toString
    graft.ops.FingerprintStore.writeState(
      all.select("doc_id", "source", "text"), fpsBatch)
    assert(graft.ops.FingerprintStore.splitLeakageCard(spark, s"$p/fps")
      .collect().toSeq ==
      graft.ops.FingerprintStore.splitLeakageCard(spark, fpsBatch)
        .collect().toSeq,
      "stream-maintained leakage card == batch rebuild")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(fpsBatch))

    // DSIR model: stream-folded counts score identically to a model
    // fitted on the union in one shot (element-wise count sums are
    // exact under any arrival order)
    assert(graft.ops.DsirStore.scoresFromState(spark, s"$p/dsir", all, dsirPred)
      .collect().map(_.toSeq).toSet ==
      graft.ops.Dsir.scores(all, dsirPred).collect().map(_.toSeq).toSet)

    // BM25 index: the stream-maintained scores equal a same-corpus
    // batch scoring (additive tables — exact under any arrival order)
    assert(graft.ops.Bm25Index
      .scoresFromState(spark, s"$p/bm25", "dup merge stream")
      .collect().map(_.toSeq).toSet ==
      graft.ops.Bm25.scores(all.select("doc_id", "source", "text"),
        "dup merge stream").collect().map(_.toSeq).toSet)

    // segment keepers: one claim per distinct fingerprint of the union,
    // and the kept-segment TOTAL equals the batch dedup's (the keeper
    // IDENTITY is arrival-order-dependent here — %4 batches are not
    // id-ordered — but each distinct segment keeps exactly one copy
    // under either rule)
    val keepers = graft.ops.IncrementalSegments.readKeepers(spark, s"$p/segs")
      .collect()
    assert(keepers.map(_.getString(0)).distinct.length == keepers.length,
      "one keeper per fingerprint")
    val incKept = graft.ops.IncrementalSegments
      .dedupFromState(spark, s"$p/segs")
      .agg(sum("kept_segments")).head().getLong(0)
    val batchKept = graft.ops.SegmentDedup.dedup(all,
        graft.ops.SegmentDedup.tokenWindows(col("text"), 16), sep = " ")
      .agg(sum("kept_segments")).head().getLong(0)
    assert(incKept == batchKept && incKept == keepers.length)

    // metrics rollup == batch partials over the union; a replayed fold
    // id no-ops (the ledger guard)
    cat.materializer.get.markBuilt(mv)
    val live = mv.query(Seq("source"), Seq("doc_count", "char_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expect = all.groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("cs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(live == expect, "stream-maintained rollup == batch aggregate")
    im.foldBatch(mv, corpus, foldId = Some("seed")) // replay: must no-op
    val replayed = mv.query(Seq("source"), Seq("doc_count", "char_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(replayed == expect, "replayed fold id must not double-merge")

    // dedup labels == batch CC over the union
    val gotLabels = IncrementalClusters.readLabels(spark, s"$p/state")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keyedAll = keyedOf(docs)
    val expLabels = ConnectedComponents.run(
      keyedAll.select(col("doc_id").as("id")),
      ConnectedComponents.keyEdges(keyedAll, "doc_id", Seq("k1", "k2")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLabels == expLabels)

    // drift profile == whole-corpus profile
    def profRows(df: DataFrame) = df.select("source", "lang", "c", "h")
      .collect().map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}|" +
        r.getSeq[Long](3).mkString(",")).toSet
    assert(profRows(DriftStore.profile(spark, s"$p/drift")) ==
      profRows(DriftStore.profileOf(all)))

    // span table == batch re-gram over the union
    assert(IncrementalSpans.readSpans(spark, s"$p/spans")
      .collect().map(_.toSeq).toSet ==
      DupSpans.duplicateSpans(all, n = 8).collect().map(_.toSeq).toSet)

    // daemon introspection (r12): every family's ledger shows the 3
    // drained folds, and the last fold id is the content-derived id of
    // the final batch — ledger truth across the three ledger layouts
    // (plain file, labels subroot, snapshot-versioned)
    val status = ContinuousIngest.status(spark, Map(
      "dedup_index" -> s"$p/index", "clusters" -> s"$p/state/labels",
      "drift" -> s"$p/drift", "spans" -> s"$p/spans",
      "segments" -> s"$p/segs", "bm25" -> s"$p/bm25",
      "dsir" -> s"$p/dsir", "fingerprints" -> s"$p/fps"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(status.keySet == Set("dedup_index", "clusters", "drift",
      "spans", "segments", "bm25", "dsir", "fingerprints"))
    assert(status.values.forall(_._1 == 3L),
      s"every family should have 3 applied folds: $status")
    val lastBatch = docs.filter(col("doc_id") % 4 === 3)
    val expectId = Folds.contentFoldId(lastBatch).get
    assert(status.values.forall(_._2 == expectId),
      s"last fold id should be $expectId: $status")
  }
}
