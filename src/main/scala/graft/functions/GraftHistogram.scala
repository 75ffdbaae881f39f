package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Engine-owned mergeable bounded-range histogram — the sketch that
  * makes approx-PERCENTILE measures routable through rollups, exactly
  * as [[GraftHll]] did for approx-distinct (the reference refuses to
  * route `percentile`/`median` because exact quantiles are not
  * decomposable; a histogram of bin counts IS — counts add).
  *
  * Why equi-width bins and not a rank-error sketch (KLL / t-digest /
  * GK): those bound RANK error but their partials are opaque binaries
  * no SQL engine can re-derive — the DataSketches problem that made
  * q_mv_approx rows-only before r7. A fixed `[lo, hi)` grid of bin
  * counts is (a) storable as a plain parquet `array<bigint>` any
  * engine reads, (b) mergeable by element-wise ADD (exact over unions
  * of inputs — stronger than HLL's max-merge, since counts are
  * lossless), and (c) re-derivable in the DuckDB oracle with a
  * groupBy + window cumsum in ~15 lines of SQL. The price is a VALUE
  * error bound instead of a rank bound: an estimate is off by at most
  * one bin width `(hi−lo)/bins`, and mass outside `[lo, hi]` clamps
  * to the edge bins (measures declare their domain — the same
  * explicit-parameter contract as HLL's fixed p=12). For metric-layer
  * quantiles over business measures with known domains (prices,
  * latencies, scores) that is the right trade.
  *
  * Cross-engine determinism: bin index
  * `floor(((x − lo) / (hi − lo)) · bins)` clamped to `[0, bins−1]`,
  * and estimate `lo + (j + frac) · ((hi − lo)/bins)` with
  * `frac = (p·total − cumBefore)/c_j`, all in IEEE doubles with the
  * operation order mirrored verbatim in the oracle SQL — identical
  * bits on both engines (no libm calls at all, unlike HLL's final
  * `ln`).
  *
  * Storage: `bins + 1` longs per (group × measure) — the bin counts
  * plus ONE trailing slot holding the CLAMPED count (r9): how many
  * updates fell outside the declared `[lo, hi)` domain and were
  * folded into an edge bin. Clamping is silent by design (the sketch
  * stays total over any input), but a mis-declared domain degrades
  * every estimate with no signal — the trailing slot IS the signal,
  * merging by the same element-wise add as the bins and surfaced via
  * `graft_hist_clamped` (the profile card reads it per column). All
  * consumers (`quantile`, `tvd`) treat an n-element array as n−1 bins
  * + 1 clamped slot; at the default 1024 bins the partial is 8 KB +
  * 8 bytes per rollup row — same order as an HLL sketch.
  * Two percentile measures over the same column currently store two
  * identical partials (AggDecompose decomposes measures
  * independently); sharing them is a known optimization, not a
  * correctness issue.
  */
object GraftHistogram {

  private[functions] def toDouble(v: Any): Double = v match {
    case d: java.lang.Double  => d.doubleValue()
    case f: java.lang.Float   => f.doubleValue()
    case l: java.lang.Long    => l.toDouble
    case i: java.lang.Integer => i.toDouble
    case s: java.lang.Short   => s.toDouble
    case b: java.lang.Byte    => b.toDouble
    case d: Decimal           => d.toDouble
    case other => throw new IllegalArgumentException(
      s"graft_hist: non-numeric value $other")
  }

  /** Foldable-parameter eval (lo/hi/bins/p are literals by contract).
    * A foldable-but-null literal (CAST(NULL AS INT)) folds to NaN so
    * the callers' finite/range checks reject it as a TypeCheckFailure
    * instead of an analysis-time NPE (the GraftTopK r11 fix). */
  private[functions] def foldedDouble(e: Expression): Double = {
    val v = e.eval(InternalRow.empty)
    if (v == null) Double.NaN else toDouble(v)
  }

  /** Unclamped bin index as the double the clamp compares against —
    * out-of-domain ⟺ `rawBin < 0 || rawBin > bins−1`, the exact
    * predicate the profile oracle mirrors in SQL. */
  private[functions] def rawBin(x: Double, lo: Double, hi: Double, bins: Int): Double =
    math.floor(((x - lo) / (hi - lo)) * bins)

  private[functions] def binOf(x: Double, lo: Double, hi: Double, bins: Int): Int = {
    // mirrored in SQL: least(bins-1, greatest(0, floor(((x-lo)/(hi-lo))*bins)))
    val b = rawBin(x, lo, hi, bins)
    if (b < 0d) 0 else if (b > (bins - 1).toDouble) bins - 1 else b.toInt
  }

  private[functions] def mergeInto(into: Array[Long], from: Array[Long]): Array[Long] = {
    require(into.length == from.length,
      s"graft_hist_merge: incompatible bin counts ${into.length} vs ${from.length}")
    var i = 0
    while (i < into.length) { into(i) += from(i); i += 1 }
    into
  }

  /** Interpolated quantile from bin counts; null on an empty histogram.
    * The array's trailing element is the clamped-count slot, not a bin
    * — every consumer derives `bins = numElements − 1`. Shared by
    * interpreted eval and generated code; the oracle SQL replicates
    * every double op in order. */
  def quantile(h: ArrayData, p: Double, lo: Double, hi: Double): java.lang.Double = {
    val bins = h.numElements() - 1
    var total = 0L
    var i = 0
    while (i < bins) { total += h.getLong(i); i += 1 }
    if (total == 0L) return null
    val target = p * total.toDouble
    // first non-empty bin whose INCLUSIVE cumulative count reaches the
    // target rank; frac interpolates within it
    var cum = 0L
    var j = -1
    var cumBefore = 0L
    i = 0
    while (i < bins && j < 0) {
      val c = h.getLong(i)
      if (c > 0L && (cum + c).toDouble >= target) { j = i; cumBefore = cum }
      cum += c
      i += 1
    }
    if (j < 0) return null // unreachable for p in [0,1]; defensive
    val cj = h.getLong(j)
    val frac = (target - cumBefore.toDouble) / cj.toDouble
    java.lang.Double.valueOf(lo + (j.toDouble + frac) * ((hi - lo) / bins.toDouble))
  }

  /** Total-variation distance between two bin-count histograms:
    * `0.5 · Σ |h1[i]/t1 − h2[i]/t2|` folded in ascending bin order
    * (the order the oracle's list_reduce replicates — double addition
    * is not associative, so the fold order IS part of the contract).
    * TVD rather than KL/PSI/JS on purpose: those need `ln`, whose
    * libm rounding is the one cross-engine wobble the HLL estimate
    * still carries; TVD is pure arithmetic — bit-exact — and bounded
    * in [0, 1] with a direct reading (max probability mass that
    * disagrees). Null if either histogram is empty. */
  def tvd(a: ArrayData, b: ArrayData): java.lang.Double = {
    require(a.numElements() == b.numElements(),
      s"graft_hist_tvd: incompatible bin counts ${a.numElements()} vs ${b.numElements()}")
    val n = a.numElements() - 1 // trailing clamped slot is not a bin
    var t1 = 0L; var t2 = 0L
    var i = 0
    while (i < n) { t1 += a.getLong(i); t2 += b.getLong(i); i += 1 }
    if (t1 == 0L || t2 == 0L) return null
    var acc = 0.0
    i = 0
    while (i < n) {
      acc += math.abs(a.getLong(i).toDouble / t1.toDouble -
        b.getLong(i).toDouble / t2.toDouble)
      i += 1
    }
    java.lang.Double.valueOf(0.5 * acc)
  }

  def agg(x: Column, lo: Column, hi: Column, bins: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    def e(c: Column) = GraftBridge.expression(spark, c)
    GraftBridge.column(
      GraftHistAgg(e(x), e(lo), e(hi), e(bins)).toAggregateExpression())
  }

  def merge(c: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    GraftBridge.column(
      GraftHistMerge(GraftBridge.expression(spark, c)).toAggregateExpression())
  }

  private[functions] def packLongs(a: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * a.length)
    a.foreach(bb.putLong)
    bb.array()
  }

  private[functions] def unpackLongs(b: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(b)
    Array.fill(b.length / 8)(bb.getLong)
  }
}

/** Aggregate numeric values into `bins` equal-width bin counts over
  * `[lo, hi]`; out-of-range values clamp to the edge bins, nulls are
  * skipped. `lo`/`hi`/`bins` must be foldable (they parameterize the
  * sketch the way HLL's p does — every partial that will ever merge
  * must share them). */
case class GraftHistAgg(child: Expression, lo: Expression, hi: Expression,
    bins: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child, lo, hi, bins)

  override def checkInputDataTypes(): TypeCheckResult = {
    def numeric(e: Expression) = e.dataType.isInstanceOf[NumericType]
    if (!numeric(child))
      TypeCheckResult.TypeCheckFailure(
        s"graft_hist_agg needs a numeric value, got ${child.dataType.simpleString}")
    else if (!Seq(lo, hi, bins).forall(e => e.foldable && numeric(e)))
      TypeCheckResult.TypeCheckFailure(
        "graft_hist_agg lo/hi/bins must be numeric literals")
    else {
      val (l, h, b) = (GraftHistogram.foldedDouble(lo),
        GraftHistogram.foldedDouble(hi), GraftHistogram.foldedDouble(bins))
      if (!java.lang.Double.isFinite(l) || !java.lang.Double.isFinite(h))
        TypeCheckResult.TypeCheckFailure(
          s"graft_hist_agg lo/hi must be finite, got [$l, $h]")
      else if (!(h > l))
        TypeCheckResult.TypeCheckFailure(s"graft_hist_agg needs hi > lo, got [$l, $h]")
      else if (b < 2 || b > 65536 || b != math.floor(b))
        TypeCheckResult.TypeCheckFailure(
          s"graft_hist_agg bins must be an integer in [2, 65536], got $b")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  @transient private lazy val loV = GraftHistogram.foldedDouble(lo)
  @transient private lazy val hiV = GraftHistogram.foldedDouble(hi)
  @transient private lazy val binsV = GraftHistogram.foldedDouble(bins).toInt

  // bins counts + the trailing clamped-count slot
  override def createAggregationBuffer(): Array[Long] = new Array[Long](binsV + 1)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = GraftHistogram.toDouble(v)
      if (!x.isNaN) {
        val raw = GraftHistogram.rawBin(x, loV, hiV, binsV)
        if (raw < 0d) { buf(binsV) += 1L; buf(0) += 1L }
        else if (raw > (binsV - 1).toDouble) { buf(binsV) += 1L; buf(binsV - 1) += 1L }
        else buf(raw.toInt) += 1L
      }
    }
    buf
  }

  override def merge(b: Array[Long], o: Array[Long]): Array[Long] =
    GraftHistogram.mergeInto(b, o)

  override def eval(b: Array[Long]): Any = new GenericArrayData(b)
  override def serialize(b: Array[Long]): Array[Byte] = GraftHistogram.packLongs(b)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    GraftHistogram.unpackLongs(bytes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hist_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): GraftHistAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GraftHistAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GraftHistAgg =
    copy(child = newChildren(0), lo = newChildren(1), hi = newChildren(2),
      bins = newChildren(3))
}

/** Re-aggregate stored bin-count arrays: element-wise add — EXACT over
  * unions of the inputs that built them (rollup routing and the
  * incremental fold rely on exactly this; unlike HLL's max-merge it
  * loses nothing). Null on zero inputs. */
case class GraftHistMerge(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression]
    with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType))

  // bins are unknown until the first input array arrives
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val a = v.asInstanceOf[ArrayData].toLongArray()
      if (buf.isEmpty) a.clone() else GraftHistogram.mergeInto(buf, a)
    }
  }

  override def merge(b: Array[Long], o: Array[Long]): Array[Long] =
    if (o.isEmpty) b
    else if (b.isEmpty) o.clone()
    else GraftHistogram.mergeInto(b, o)

  override def eval(b: Array[Long]): Any =
    if (b.isEmpty) null else new GenericArrayData(b)
  override def serialize(b: Array[Long]): Array[Byte] = GraftHistogram.packLongs(b)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    GraftHistogram.unpackLongs(bytes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hist_merge"

  override def withNewMutableAggBufferOffset(newOffset: Int): GraftHistMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GraftHistMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): GraftHistMerge =
    copy(child = newChild)
}

/** Scalar: bin counts → interpolated quantile estimate (double; null on
  * an empty/all-null histogram). Applied once per output group after
  * re-aggregation — evaluated O(bins) per GROUP, not per row. */
case class GraftHistQuantile(hist: Expression, p: Expression,
    lo: Expression, hi: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(hist, p, lo, hi)

  override def checkInputDataTypes(): TypeCheckResult = {
    def numeric(e: Expression) = e.dataType.isInstanceOf[NumericType]
    hist.dataType match {
      case ArrayType(LongType, _) =>
        if (!Seq(p, lo, hi).forall(e => e.foldable && numeric(e)))
          TypeCheckResult.TypeCheckFailure(
            "graft_hist_quantile p/lo/hi must be numeric literals")
        else {
          // same bound invariants as graft_hist_agg — the two halves of
          // the sketch contract must reject the same degenerate inputs
          // (a swapped lo/hi would silently invert every estimate, and
          // a non-finite bound would emit an invalid codegen literal)
          val pv = GraftHistogram.foldedDouble(p)
          val lv = GraftHistogram.foldedDouble(lo)
          val hv = GraftHistogram.foldedDouble(hi)
          if (!(pv >= 0d && pv <= 1d)) // NaN-rejecting form (null literal folds to NaN)
            TypeCheckResult.TypeCheckFailure(
              s"graft_hist_quantile p must be in [0, 1], got $pv")
          else if (!java.lang.Double.isFinite(lv) || !java.lang.Double.isFinite(hv))
            TypeCheckResult.TypeCheckFailure(
              s"graft_hist_quantile lo/hi must be finite, got [$lv, $hv]")
          else if (!(hv > lv))
            TypeCheckResult.TypeCheckFailure(
              s"graft_hist_quantile needs hi > lo, got [$lv, $hv]")
          else TypeCheckResult.TypeCheckSuccess
        }
      case dt => TypeCheckResult.TypeCheckFailure(
        s"graft_hist_quantile needs array<bigint> bin counts, got ${dt.simpleString}")
    }
  }

  @transient private lazy val pV = GraftHistogram.foldedDouble(p)
  @transient private lazy val loV = GraftHistogram.foldedDouble(lo)
  @transient private lazy val hiV = GraftHistogram.foldedDouble(hi)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val h = hist.eval(input)
    if (h == null) null
    else GraftHistogram.quantile(h.asInstanceOf[ArrayData], pV, loV, hiV)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hGen = hist.genCode(ctx)
    val cls = GraftHistogram.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val res = ctx.freshName("histQuantile")
    // p/lo/hi are foldable by contract — embedded as double literals
    ev.copy(code = code"""
      ${hGen.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${hGen.isNull}) {
        java.lang.Double $res = $cls.quantile(${hGen.value}, ${pV}D, ${loV}D, ${hiV}D);
        if ($res != null) { ${ev.isNull} = false; ${ev.value} = $res.doubleValue(); }
      }""")
  }

  override def prettyName: String = "graft_hist_quantile"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GraftHistQuantile =
    copy(hist = newChildren(0), p = newChildren(1), lo = newChildren(2),
      hi = newChildren(3))
}

/** Scalar: the histogram's clamped count — how many aggregated values
  * fell outside the declared `[lo, hi)` domain and were folded into an
  * edge bin (the trailing buffer slot; see the companion scaladoc). A
  * healthy measure reads 0; a mis-declared domain reads the exact mass
  * whose position information was destroyed — THE domain-quality
  * signal the profile card surfaces per column, and the alarm to
  * re-derive `[lo, hi)` before trusting any percentile. Null on a null
  * (zero-input merge) histogram. */
case class GraftHistClamped(child: Expression)
    extends Expression with UnaryLike[Expression] with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def foldable: Boolean = child.foldable

  override def eval(input: InternalRow): Any = {
    val h = child.eval(input)
    if (h == null) null
    else {
      val a = h.asInstanceOf[ArrayData]
      a.getLong(a.numElements() - 1)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${hGen.code}
      boolean ${ev.isNull} = ${hGen.isNull};
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        ${ev.value} = ${hGen.value}.getLong(${hGen.value}.numElements() - 1);
      }""")
  }

  override def prettyName: String = "graft_hist_clamped"

  override protected def withNewChildInternal(newChild: Expression): GraftHistClamped =
    copy(child = newChild)
}

/** Scalar: total-variation drift between two histograms (see
  * [[GraftHistogram.tvd]]) — the distribution-drift monitor a corpus
  * pipeline runs per snapshot/source. Both inputs must come from the
  * same (lo, hi, bins) sketch; a length mismatch fails loudly. */
case class GraftHistTvd(h1: Expression, h2: Expression)
    extends Expression with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(h1, h2)
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val a = h1.eval(input)
    val b = h2.eval(input)
    if (a == null || b == null) null
    else GraftHistogram.tvd(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGen = h1.genCode(ctx)
    val bGen = h2.genCode(ctx)
    val cls = GraftHistogram.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val res = ctx.freshName("histTvd")
    ev.copy(code = code"""
      ${aGen.code}
      ${bGen.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${aGen.isNull} && !${bGen.isNull}) {
        java.lang.Double $res = $cls.tvd(${aGen.value}, ${bGen.value});
        if ($res != null) { ${ev.isNull} = false; ${ev.value} = $res.doubleValue(); }
      }""")
  }

  override def prettyName: String = "graft_hist_tvd"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GraftHistTvd =
    copy(h1 = newChildren(0), h2 = newChildren(1))
}
