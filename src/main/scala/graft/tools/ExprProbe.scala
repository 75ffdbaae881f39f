package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Expression-level A/B probe for the optimization rounds (guide §1
  * measure-first, §4 expression choice): times candidate rewrites of
  * the hot per-row primitives (TextOps / Decontamination / langId)
  * against the shipping spelling, and REFUSES to report a timing for a
  * variant whose output differs from the baseline on the full fixture
  * corpus (optimize-only-what-stays-identical).
  *
  * Usage: `sbt "runMain graft.tools.ExprProbe [reps]"` with
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench.
  */
object ExprProbe {

  private def time(df: DataFrame, reps: Int): Double = {
    // one warm, then min over reps (the bench's statistic)
    df.write.format("noop").mode("overwrite").save()
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  private def identical(a: DataFrame, b: DataFrame): Boolean = {
    // schemas first (ADVICE r18): Row.toString can mask type changes
    // with equal string forms (e.g. int vs long)
    if (a.schema != b.schema) return false
    val ca = a.collect().map(_.toString).sorted
    val cb = b.collect().map(_.toString).sorted
    ca.sameElements(cb)
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val t = col("text")
    val ws = " \t\n\f\r"

    // cases: name -> (baseline projection, candidate projection)
    def toks = graft.ops.TextOps.tokens(t)
    val stopwords = Seq(
      "the", "a", "an", "of", "and", "or", "is", "are", "in", "on", "to",
      "it", "this", "that", "with", "for", "as", "at", "by", "be")
    val stopArr = array(stopwords.map(lit): _*)

    val cases: Seq[(String, Column, Column)] = Seq(
      ("punct_ratio",
        round(length(regexp_replace(t, "[^.,;:!?]", "")).cast("double") / length(t), 6),
        round((length(t) - length(translate(t, ".,;:!?", ""))).cast("double") / length(t), 6)),
      ("digit_ratio",
        round(length(regexp_replace(t, "[^0-9]", "")).cast("double") / length(t), 6),
        round((length(t) - length(translate(t, "0123456789", ""))).cast("double") / length(t), 6)),
      ("avg_token_len",
        round(aggregate(transform(toks, w => length(w)), lit(0),
          (acc: Column, x: Column) => acc + x).cast("double") / size(toks), 6),
        round(length(translate(t, ws, "")).cast("double") / size(toks), 6)),
      ("stopword_ratio",
        round(size(filter(toks, w => array_contains(stopArr, w))).cast("double") / size(toks), 6),
        round(size(filter(toks, w => w.isin(stopwords: _*))).cast("double") / size(toks), 6)),
      ("token_count_only",
        size(toks).cast("long"),
        size(toks).cast("long")),
      ("bpe_count",
        graft.ops.TextOps.bpeishTokenCount(t),
        graft.ops.TextOps.bpeishTokenCount(t)),
      ("wordNgrams8",
        size(graft.ops.Decontamination.wordNgrams(t, 8)),
        size({
          val w = split(t, " ")
          when(size(w) >= 8,
            transform(sequence(lit(0), size(w) - 8),
              i => concat_ws(" ", (0 until 8).map(k => element_at(w, i + lit(k + 1))): _*)))
            .otherwise(array().cast("array<string>"))
        })),
      ("langId",
        graft.ops.TextOps.langId(t),
        graft.ops.TextOps.langId(t))
    ) // the full-textStats comparison runs explicitly at the bottom of
      // main() — the old placeholder entry here was dead weight that a
      // drifted name guard would have timed bogusly (ADVICE r18)

    // --- langId single-pass candidate: 4 filter() marker scans -> one
    // aggregate() pass with a packed (2x32-bit, 2 longs) count struct
    def langIdPacked(text: Column): Column = {
      val toks2 = graft.ops.TextOps.tokens(lower(text))
      val markers = Seq(
        "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that", "it", "for"),
        "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
        "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
        "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"))
      val m: Map[String, (Long, Long)] = markers.zipWithIndex.flatMap { case ((_, wss), i) =>
        wss.map(w => w -> (i match {
          case 0 => (1L << 32, 0L); case 1 => (1L, 0L)
          case 2 => (0L, 1L << 32); case _ => (0L, 1L)
        }))
      }.groupMapReduce(_._1)(_._2)((a, b) => (a._1 + b._1, a._2 + b._2))
      val lut = map(m.toSeq.sortBy(_._1).flatMap { case (w, (a, b)) =>
        Seq(lit(w), struct(lit(a).as("a"), lit(b).as("b"))) }: _*)
      val zero = struct(lit(0L).as("a"), lit(0L).as("b"))
      val packed = aggregate(toks2, zero, (acc: Column, w: Column) => {
        val e = coalesce(element_at(lut, w), zero)
        struct((acc.getField("a") + e.getField("a")).as("a"),
          (acc.getField("b") + e.getField("b")).as("b"))
      })
      val nTok = size(toks2) + lit(1)
      def sc(c: Column) = c.cast("double") / nTok
      val cEn = shiftright(packed.getField("a"), 32)
      val cDe = packed.getField("a").bitwiseAND(lit(0xFFFFFFFFL))
      val cFr = shiftright(packed.getField("b"), 32)
      val cEs = packed.getField("b").bitwiseAND(lit(0xFFFFFFFFL))
      val cjkRatio = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
        .cast("double") / greatest(length(text), lit(1))
      val scores = map(
        lit("en"), sc(cEn), lit("de"), sc(cDe), lit("fr"), sc(cFr),
        lit("es"), sc(cEs), lit("zh"), cjkRatio * lit(10.0))
      val entries = map_entries(scores)
      val best = aggregate(entries,
        struct(lit("und").as("key"), lit(0.005).as("value")),
        (acc: Column, e: Column) =>
          when(e.getField("value") > acc.getField("value"), e).otherwise(acc))
      best.getField("key")
    }

    // --- DSIR feats: zip_with(slice, slice, concat) bigrams vs
    // transform(sequence) + element_at
    def featsBase(tokens: Column): Column = {
      val bigrams = zip_with(slice(tokens, lit(1), size(tokens) - 1),
        slice(tokens, lit(2), size(tokens) - 1),
        (a, b) => concat(a, lit(" "), b))
      concat(tokens, when(size(tokens) >= 2, bigrams).otherwise(array()))
    }
    def featsCand(tokens: Column): Column = {
      val bigrams = transform(sequence(lit(1), size(tokens) - 1),
        i => concat(element_at(tokens, i), lit(" "), element_at(tokens, i + 1)))
      concat(tokens, when(size(tokens) >= 2, bigrams).otherwise(array()))
    }
    val ltoks = graft.ops.TextOps.tokens(lower(t))

    val cases2: Seq[(String, Column, Column)] = Seq(
      ("langId_packed", graft.ops.TextOps.langId(t), langIdPacked(t)),
      ("md5bucket_conv",
        graft.ops.Sampling.md5Bucket(t) % 4096,
        (conv(substring(md5(t.cast("string")), 1, 4), 16, 10).cast("long")) % 4096),
      ("dsir_feats", size(featsBase(ltoks)), size(featsCand(ltoks))),
      ("dsir_feats_hashsum",
        aggregate(transform(featsBase(ltoks),
          g => graft.ops.Sampling.md5Bucket(g) % 4096), lit(0L), (a: Column, x: Column) => a + x),
        aggregate(transform(featsCand(ltoks),
          g => graft.ops.Sampling.md5Bucket(g) % 4096), lit(0L), (a: Column, x: Column) => a + x)))

    println(f"${"case"}%-24s ${"base_s"}%8s ${"cand_s"}%8s ${"ratio"}%6s  identical")
    cases2.foreach { case (name, base, cand) =>
      val a = docs.select(col("doc_id"), base.as("v"))
      val b = docs.select(col("doc_id"), cand.as("v"))
      val same = identical(a, b)
      val ta = time(a, reps)
      val tb = time(b, reps)
      println(f"$name%-24s $ta%8.3f $tb%8.3f ${tb / ta}%6.2f  $same")
    }

    cases.foreach { case (name, base, cand) =>
      val a = docs.select(col("doc_id"), base.as("v"))
      val b = docs.select(col("doc_id"), cand.as("v"))
      val same = identical(a, b)
      val ta = time(a, reps)
      val tb = time(b, reps)
      println(f"$name%-24s $ta%8.3f $tb%8.3f ${tb / ta}%6.2f  $same")
    }

    // full textStats: shipping vs candidate rewrite
    val full0 = graft.ops.TextOps.textStats(docs)
    def textStatsCand(df: DataFrame): DataFrame = {
      val toks2 = graft.ops.TextOps.tokensOf(df, "text")
      df.withColumn("token_count", size(toks2))
        .withColumn("bpe_token_count", graft.ops.TextOps.bpeishTokenCount(t))
        .withColumn("char_count", length(t))
        .withColumn("avg_token_len",
          round(length(translate(t, ws, "")).cast("double") / size(toks2), 6))
        .withColumn("punct_ratio",
          round((length(t) - length(translate(t, ".,;:!?", ""))).cast("double") / length(t), 6))
        .withColumn("digit_ratio",
          round((length(t) - length(translate(t, "0123456789", ""))).cast("double") / length(t), 6))
        .withColumn("stopword_ratio",
          round(size(filter(toks2, w => array_contains(stopArr, w))).cast("double") / size(toks2), 6))
        .withColumn("quality_score", round(
          least(lit(1.0), greatest(lit(0.0),
            lit(0.15) * log(lit(1.0) + size(toks2).cast("double"))
              - lit(2.0) * col("punct_ratio") - lit(2.0) * col("digit_ratio")
              - abs(col("stopword_ratio") - lit(0.35)))), 6))
    }
    val full1 = textStatsCand(docs)
    val same = identical(full0, full1)
    val t0 = time(full0, reps)
    val t1 = time(full1, reps)
    println(f"${"textStats_full"}%-24s $t0%8.3f $t1%8.3f ${t1 / t0}%6.2f  $same")

    spark.stop()
  }
}
