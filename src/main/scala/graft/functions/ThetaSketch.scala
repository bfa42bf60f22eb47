package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, Sketches, Union}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Theta sketches (Apache DataSketches, on the Spark classpath) — the
  * SET-OPERATION sketch the HLL tier cannot be: HLL unions, but only
  * theta supports sketch-level INTERSECTION and A-NOT-B with bounded
  * error, so "how many users did BOTH checkout and refund", "how many
  * documents are in shard A but not B" become merges of stored KB blobs
  * instead of a distinct-join over raw rows. Same at-rest contract as
  * `Approx.hllCells`/`TDigest`: build cells once, answer set algebra
  * after the fact without rescanning.
  *
  * Like every sketch here, gates use the ERROR-BOUND CONTRACT (exact
  * values ride the hash); below ~2^lgK distinct values theta runs in
  * exact mode (θ=1) and the estimates are exact counts.
  */
object ThetaSketch {

  /** Aggregate raw values into a serialized compact theta sketch. */
  def agg(c: Column, lgK: Int = 12): Column =
    GraftShim.column(ThetaAgg(GraftShim.expression(c), lgK).toAggregateExpression())

  /** Merge serialized sketches (BinaryType → BinaryType). */
  def unionAgg(c: Column): Column =
    GraftShim.column(ThetaUnionAgg(GraftShim.expression(c)).toAggregateExpression())

  /** Distinct estimate of one serialized sketch. */
  def estimate(c: Column): Column =
    GraftShim.column(ThetaScalar(GraftShim.expression(c), GraftShim.expression(c), "est"))

  /** Distinct estimate of A ∩ B from two serialized sketches. */
  def intersectEstimate(a: Column, b: Column): Column =
    GraftShim.column(ThetaScalar(GraftShim.expression(a), GraftShim.expression(b), "and"))

  /** Distinct estimate of A \ B from two serialized sketches. */
  def aNotBEstimate(a: Column, b: Column): Column =
    GraftShim.column(ThetaScalar(GraftShim.expression(a), GraftShim.expression(b), "not"))

  /** Distinct estimate of A ∪ B from two serialized sketches. */
  def unionEstimate(a: Column, b: Column): Column =
    GraftShim.column(ThetaScalar(GraftShim.expression(a), GraftShim.expression(b), "or"))

  /** [[unionAgg]]'s answer over serialized sketches (NULLs skipped), on
    * the driver: NULL when the union is empty.
    */
  def unionAll(blobs: Iterator[Any], lgK: Int = 12): Array[Byte] = {
    val u = newUnion(lgK)
    blobs.foreach(b => if (b != null) u.union(wrap(b.asInstanceOf[Array[Byte]])))
    val r = u.getResult
    if (r.isEmpty) null else r.toByteArray
  }

  private[functions] def newUnion(lgK: Int): Union =
    Sketches.setOperationBuilder().setLogNominalEntries(lgK).buildUnion()

  private[functions] def wrap(bytes: Array[Byte]): CompactSketch =
    Sketches.heapifyCompactSketch(Memory.wrap(bytes))
}

/** Build aggregate: values → serialized compact theta sketch. The buffer
  * IS a DataSketches Union (it accepts both raw updates and sketch
  * merges), so partial aggregation ships ≤4 KB compact blobs.
  */
case class ThetaAgg(
    child: Expression,
    lgK: Int = 12,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | StringType | BinaryType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"theta_agg expects integral/double/string/binary, got $t")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "theta_agg"

  override def createAggregationBuffer(): Union = ThetaSketch.newUnion(lgK)

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) v match {
      case l: Long => buffer.update(l)
      case i: Int => buffer.update(i.toLong)
      case s: Short => buffer.update(s.toLong)
      case b: Byte => buffer.update(b.toLong)
      case d: Double => buffer.update(d)
      case f: Float => buffer.update(f.toDouble)
      case s: UTF8String => buffer.update(s.toString)
      case b: Array[Byte] => buffer.update(b)
      case other => throw new IllegalArgumentException(
        s"theta_agg: unsupported value $other")
    }
    buffer
  }

  override def merge(buffer: Union, input: Union): Union = {
    buffer.union(input.getResult); buffer
  }

  override def eval(buffer: Union): Any = {
    val r = buffer.getResult
    if (r.isEmpty) null else r.toByteArray
  }

  override def serialize(buffer: Union): Array[Byte] = buffer.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = ThetaSketch.newUnion(lgK)
    u.union(ThetaSketch.wrap(bytes))
    u
  }

  override def withNewMutableAggBufferOffset(o: Int): ThetaAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): ThetaAgg = copy(child = newChild)
}

/** Merge aggregate over serialized sketches — the query-time half of the
  * at-rest pattern (cells → any-range sketch).
  */
case class ThetaUnionAgg(
    child: Expression,
    lgK: Int = 12,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"theta_union_agg expects binary, got $t")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "theta_union_agg"

  override def createAggregationBuffer(): Union = ThetaSketch.newUnion(lgK)

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buffer.union(ThetaSketch.wrap(v.asInstanceOf[Array[Byte]]))
    buffer
  }

  override def merge(buffer: Union, input: Union): Union = {
    buffer.union(input.getResult); buffer
  }

  override def eval(buffer: Union): Any = {
    val r = buffer.getResult
    if (r.isEmpty) null else r.toByteArray
  }

  override def serialize(buffer: Union): Array[Byte] = buffer.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = ThetaSketch.newUnion(lgK)
    u.union(ThetaSketch.wrap(bytes))
    u
  }

  override def withNewMutableAggBufferOffset(o: Int): ThetaUnionAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaUnionAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): ThetaUnionAgg = copy(child = newChild)
}

/** Scalar set-algebra over serialized sketches: op ∈ est|and|or|not.
  * Runs per GROUP row post-aggregation — group-cardinality, so
  * CodegenFallback costs nothing measurable.
  */
case class ThetaScalar(left: Expression, right: Expression, op: String)
  extends Expression with CodegenFallback with BinaryLike[Expression] {

  require(Set("est", "and", "or", "not")(op), s"unknown theta op $op")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"theta_$op expects binary sketches, got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = s"theta_$op"

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val a = ThetaSketch.wrap(l.asInstanceOf[Array[Byte]])
    if (op == "est") return a.getEstimate
    val r = right.eval(input)
    if (r == null) return null
    val b = ThetaSketch.wrap(r.asInstanceOf[Array[Byte]])
    op match {
      case "and" =>
        Sketches.setOperationBuilder().buildIntersection()
          .intersect(a, b).getEstimate
      case "or" =>
        // Size the scalar union from the inputs, not a hardcoded lgK=12:
        // a compact sketch does not carry its builder's lgK, but it
        // retains ≤ ~2^lgNom entries, so ceil(log2(max retained)) + 1
        // never downsamples below the callers' configured resolution
        // (a union lgK LARGER than the inputs' is harmless — it only
        // bounds the result size).
        val retained = math.max(
          math.max(a.getRetainedEntries(true), b.getRetainedEntries(true)), 1)
        val lg = math.max(12,
          64 - java.lang.Long.numberOfLeadingZeros(retained.toLong - 1) + 1)
        val u = ThetaSketch.newUnion(lg.toInt)
        u.union(a); u.union(b); u.getResult.getEstimate
      case "not" =>
        Sketches.setOperationBuilder().buildANotB().aNotB(a, b).getEstimate
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaScalar =
    copy(left = newLeft, right = newRight)
}
