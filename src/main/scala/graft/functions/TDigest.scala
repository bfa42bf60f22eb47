package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** Merging t-digest (Dunning & Ertl, "Computing Extremely Accurate
  * Quantiles Using t-Digests", public) — the mergeable quantile sketch the
  * reference lacks and a 100 TB rollup tier needs: per-segment digests are
  * a few KB of bounded state, merge associatively WITHOUT rescanning raw
  * data, and answer any quantile after the fact (vs `percentile_approx`,
  * which binds the accuracy/percentile choice into the one aggregation
  * that ran). The at-rest shape this enables: store one digest per
  * (series, day) next to the rollup, answer a 90-day p99 by merging 90
  * digests — no raw-point rescan (`q_ts_tdigest` gates exactly that
  * build → store → merge → extract composition).
  *
  * Scale function is k1: k(q) = (δ/2π)·asin(2q−1), giving O(δ) centroids
  * with resolution concentrated at the tails (where p99-style questions
  * live). Centroid state for δ=100 is ≤ ~3 KB serialized; the unmerged
  * input buffer amortizes sort cost to O(log) amortized per point.
  *
  * Cross-run determinism: a digest's centroids depend on input order, so
  * (like every sketch here) results gate on the ERROR-BOUND CONTRACT —
  * |rank error| bounded — not on byte equality; FunctionsSpec pins the
  * bound against exact percentiles and the merge-vs-single-pass drift.
  */
final class TDigest(val compression: Double) extends Serializable {
  import TDigest._

  // merged centroids, sorted by mean
  private[functions] var means: Array[Double] = new Array[Double](16)
  private[functions] var weights: Array[Double] = new Array[Double](16)
  private[functions] var n: Int = 0
  private[functions] var total: Double = 0.0
  var min: Double = Double.PositiveInfinity
  var max: Double = Double.NegativeInfinity

  // unmerged raw buffer (means with weight bufW(i))
  private val bufCap = math.max(64, (4 * compression).toInt)
  private var bufM: Array[Double] = new Array[Double](bufCap)
  private var bufW: Array[Double] = new Array[Double](bufCap)
  private var bufN: Int = 0

  def isEmpty: Boolean = n == 0 && bufN == 0

  def add(x: Double): Unit = addWeighted(x, 1.0)

  def addWeighted(mean: Double, w: Double): Unit = {
    if (w <= 0 || mean.isNaN) return
    if (bufN == bufCap) flush()
    bufM(bufN) = mean; bufW(bufN) = w; bufN += 1
    if (mean < min) min = mean
    if (mean > max) max = mean
  }

  def merge(other: TDigest): Unit = {
    var i = 0
    while (i < other.n) { addWeighted(other.means(i), other.weights(i)); i += 1 }
    i = 0
    while (i < other.bufN) { addWeighted(other.bufM(i), other.bufW(i)); i += 1 }
    if (other.min < min) min = other.min
    if (other.max > max) max = other.max
  }

  /** Re-cluster centroids + buffered points under the k1 size bound. */
  def flush(): Unit = {
    if (bufN == 0) return
    val m = n + bufN
    val am = new Array[Double](m)
    val aw = new Array[Double](m)
    System.arraycopy(means, 0, am, 0, n)
    System.arraycopy(weights, 0, aw, 0, n)
    System.arraycopy(bufM, 0, am, n, bufN)
    System.arraycopy(bufW, 0, aw, n, bufN)
    bufN = 0
    // sort (mean, weight) pairs by mean — indices sorted, then permute
    val idx = Array.range(0, m).sortBy(am(_))
    val sm = idx.map(am(_)); val sw = idx.map(aw(_))
    total = sw.sum
    val om = new Array[Double](m); val ow = new Array[Double](m)
    var on = 0
    var curM = sm(0); var curW = sw(0)
    var wSoFar = 0.0
    var qLimit = kInv(k(0.0, compression) + 1.0, compression) * total
    var i = 1
    while (i < m) {
      if (wSoFar + curW + sw(i) <= qLimit) {
        // weighted-mean merge into the current cluster
        val w2 = curW + sw(i)
        curM = curM + (sm(i) - curM) * sw(i) / w2
        curW = w2
      } else {
        om(on) = curM; ow(on) = curW; on += 1
        wSoFar += curW
        qLimit = kInv(k(wSoFar / total, compression) + 1.0, compression) * total
        curM = sm(i); curW = sw(i)
      }
      i += 1
    }
    om(on) = curM; ow(on) = curW; on += 1
    means = om; weights = ow; n = on
  }

  /** Interpolated quantile (q in [0,1]); NaN when empty. */
  def quantile(q: Double): Double = {
    flush()
    if (n == 0) return Double.NaN
    if (n == 1) return means(0)
    val target = q * total
    if (target <= weights(0) / 2) {
      // interpolate min → first centroid midpoint
      val m0 = weights(0) / 2
      return min + (means(0) - min) * (if (m0 > 0) math.min(1.0, target / m0) else 1.0)
    }
    var cum = 0.0
    var i = 0
    while (i < n - 1) {
      val mid = cum + weights(i) / 2
      val nextMid = cum + weights(i) + weights(i + 1) / 2
      if (target <= nextMid) {
        if (target <= mid) return means(i)
        val f = (target - mid) / (nextMid - mid)
        return means(i) + (means(i + 1) - means(i)) * f
      }
      cum += weights(i)
      i += 1
    }
    val lastMid = cum + weights(n - 1) / 2
    if (target <= lastMid) return means(n - 1)
    val tail = total - lastMid
    if (tail <= 0) max
    else math.min(max, means(n - 1) + (max - means(n - 1)) * ((target - lastMid) / tail))
  }

  /** [compression][min][max][n][means…][weights…] — flushed first. */
  def serialize(): Array[Byte] = {
    flush()
    val bb = ByteBuffer.allocate(8 * 3 + 4 + 16 * n)
    bb.putDouble(compression).putDouble(min).putDouble(max).putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(means(i)); i += 1 }
    i = 0
    while (i < n) { bb.putDouble(weights(i)); i += 1 }
    bb.array()
  }
}

object TDigest {
  /** k1 scale function and its inverse. */
  private def k(q: Double, d: Double): Double =
    d / (2 * math.Pi) * math.asin(2 * math.min(1.0, math.max(0.0, q)) - 1)
  private def kInv(kk: Double, d: Double): Double = {
    val s = math.sin(kk * 2 * math.Pi / d)
    math.min(1.0, (s + 1) / 2)
  }

  def deserialize(bytes: Array[Byte]): TDigest = {
    val bb = ByteBuffer.wrap(bytes)
    val t = new TDigest(bb.getDouble)
    t.min = bb.getDouble; t.max = bb.getDouble
    val m = bb.getInt
    t.means = new Array[Double](math.max(16, m))
    t.weights = new Array[Double](math.max(16, m))
    t.n = m
    var i = 0
    while (i < m) { t.means(i) = bb.getDouble; i += 1 }
    i = 0
    var tot = 0.0
    while (i < m) { t.weights(i) = bb.getDouble; tot += t.weights(i); i += 1 }
    t.total = tot
    t
  }

  /** One step of the merge aggregate: an empty accumulator adopts
    * `other` (keeping its compression), any other absorbs it.
    */
  private[functions] def mergeInto(acc: TDigest, other: TDigest): TDigest =
    if (acc.isEmpty) other else { acc.merge(other); acc }

  /** [[mergeAgg]]'s answer over serialized digests (NULLs skipped), folded
    * in the given order on the driver: NULL when none.
    */
  def mergeAll(blobs: Iterator[Any]): Array[Byte] = {
    val d = blobs.foldLeft(new TDigest(100.0)) {
      case (acc, null) => acc
      case (acc, b) => mergeInto(acc, deserialize(b.asInstanceOf[Array[Byte]]))
    }
    if (d.isEmpty) null else d.serialize()
  }

  // ---- Column API -------------------------------------------------------

  /** Aggregate raw doubles into a serialized digest (BinaryType). */
  def agg(c: Column, compression: Double = 100.0): Column =
    GraftShim.column(
      TDigestAgg(GraftShim.expression(c.cast("double")), compression)
        .toAggregateExpression())

  /** Merge serialized digests (BinaryType → BinaryType). */
  def mergeAgg(c: Column): Column =
    GraftShim.column(
      TDigestMergeAgg(GraftShim.expression(c)).toAggregateExpression())

  /** Extract an interpolated quantile from a serialized digest. */
  def quantileOf(digest: Column, q: Double): Column =
    GraftShim.column(TDigestQuantile(GraftShim.expression(digest), q))
}

/** Build aggregate: doubles → serialized t-digest. Partial aggregation
  * merges digests (bounded state), so a 100 TB scan ships O(δ) centroids
  * per partition, never raw values.
  */
case class TDigestAgg(
    child: Expression,
    compression: Double = 100.0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigest] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"tdigest_agg expects numeric, got $t")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "tdigest_agg"

  override def createAggregationBuffer(): TDigest = new TDigest(compression)

  override def update(buffer: TDigest, input: InternalRow): TDigest = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Number].doubleValue())
    buffer
  }

  override def merge(buffer: TDigest, input: TDigest): TDigest = {
    buffer.merge(input); buffer
  }

  override def eval(buffer: TDigest): Any =
    if (buffer.isEmpty) null else buffer.serialize()

  override def serialize(buffer: TDigest): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): TDigest = TDigest.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TDigestAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TDigestAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): TDigestAgg = copy(child = newChild)
}

/** Merge aggregate: serialized digests → one serialized digest. This is
  * the query-time half of the at-rest pattern — the scan reads digest
  * blobs (a few KB per rollup cell), never raw points.
  */
case class TDigestMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigest] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"tdigest_merge_agg expects binary, got $t")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "tdigest_merge_agg"

  // compression rides in each serialized blob; empty buffer adopts the
  // first input's on merge
  override def createAggregationBuffer(): TDigest = new TDigest(100.0)

  override def update(buffer: TDigest, input: InternalRow): TDigest = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      // an empty buffer ADOPTS the first input (keeps its compression)
      TDigest.mergeInto(buffer, TDigest.deserialize(v.asInstanceOf[Array[Byte]]))
    }
  }

  override def merge(buffer: TDigest, input: TDigest): TDigest =
    TDigest.mergeInto(buffer, input)

  override def eval(buffer: TDigest): Any =
    if (buffer.isEmpty) null else buffer.serialize()

  override def serialize(buffer: TDigest): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): TDigest = TDigest.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TDigestMergeAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TDigestMergeAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): TDigestMergeAgg = copy(child = newChild)
}

/** Scalar quantile extraction from a serialized digest. Runs once per
  * GROUP row post-aggregation (group-cardinality, not row-cardinality),
  * so CodegenFallback costs nothing measurable.
  */
case class TDigestQuantile(child: Expression, q: Double)
  extends Expression with CodegenFallback with UnaryLike[Expression] {

  require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"tdigest_quantile expects binary, got $t")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "tdigest_quantile"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val r = TDigest.deserialize(v.asInstanceOf[Array[Byte]]).quantile(q)
      if (r.isNaN) null else r
    }
  }

  override protected def withNewChildInternal(newChild: Expression): TDigestQuantile =
    copy(child = newChild)
}
