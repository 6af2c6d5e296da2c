package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftx.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Theta sketch for distinct counting WITH set operations — the
  * `uniqTheta` / `uniqThetaUnion/Intersect/Not` analog, after the
  * theta-sketch framework (Dasgupta, Lang, Rhodes & Thaler, "A
  * framework for estimating stream expression cardinalities", 2016;
  * the KMV estimator goes back to Bar-Yossef et al. 2002).
  *
  * Where HLL only unions, a theta sketch supports INTERSECTION and
  * DIFFERENCE estimates over already-aggregated state — the piece that
  * lets audience-overlap / retention-cross-segment questions run on
  * per-segment sketch bytes instead of re-scanning raw events.
  *
  * Mechanics: keep the k smallest 63-bit item hashes; θ = the k-th
  * smallest once full (else 2^63 ≙ "everything sampled"). Every hash
  * < θ is a uniform sample of the distinct universe at rate θ/2^63,
  * so |{retained}| / (θ/2^63) estimates the distinct count, and any
  * set expression evaluated on retained samples below a COMMON θ
  * (min across inputs) estimates that expression's cardinality:
  * relative error ~ 1/√(k−2) per input (k=4096 → ~1.6%).
  *
  * Mergeable: union keeps the k smallest of both sample sets (θ
  * re-tightens) — associative, order-independent, O(k) per task
  * across the exchange. */
final class ThetaBuf(val k: Int) {
  // retained sample: the k smallest distinct hashes seen (63-bit)
  val samples = mutable.TreeSet.empty[Long]

  def theta: Long =
    if (samples.size < k) Long.MaxValue else samples.max

  def add(h64: Long): Unit = {
    val h = h64 & Long.MaxValue
    if (samples.size < k) { samples.add(h); () }
    else {
      val worst = samples.max
      if (h < worst && !samples.contains(h)) {
        samples.remove(worst)
        samples.add(h)
      }
    }
  }

  def mergeFrom(o: ThetaBuf): ThetaBuf = {
    o.samples.foreach(add)
    this
  }

  def estimate: Double =
    if (samples.size < k) samples.size.toDouble
    else (k - 1).toDouble * Long.MaxValue.toDouble / samples.max.toDouble

  def serialize(): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + samples.size * 8)
    bb.putInt(k).putInt(samples.size)
    samples.foreach(bb.putLong)
    bb.array()
  }
}

object ThetaBuf {
  def deserialize(bytes: Array[Byte]): ThetaBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new ThetaBuf(bb.getInt())
    var n = bb.getInt()
    while (n > 0) { buf.samples.add(bb.getLong()); n -= 1 }
    buf
  }

  /** Estimate |expr(A, B)| from two sketches: evaluate the set
    * expression on samples below the common θ, scale by the sample
    * rate. `op`: 0 = intersect, 1 = A-not-B, 2 = union. */
  def setOpEstimate(a: ThetaBuf, b: ThetaBuf, op: Int): Double = {
    val theta = math.min(a.theta, b.theta)
    val sa = a.samples.rangeUntil(theta)
    val sb = b.samples.rangeUntil(theta)
    val n = op match {
      case 0 => sa.count(sb.contains)
      case 1 => sa.count(h => !sb.contains(h))
      case _ => (sa ++ sb).size
    }
    if (theta == Long.MaxValue) n.toDouble
    else n.toDouble * Long.MaxValue.toDouble / theta.toDouble
  }
}

/** `theta_sketch_agg(item, k)` — aggregate a string column into a
  * serialized theta sketch. */
case class ThetaSketchAgg(
    child: Expression,
    k: Int = 4096,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ThetaBuf] {
  require(k > 16, s"k must be > 16, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_sketch_agg expects a string item, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): ThetaBuf = new ThetaBuf(k)

  override def update(buf: ThetaBuf, input: InternalRow): ThetaBuf = {
    val v = child.eval(input)
    if (v != null) buf.add(HashMix.hashString(v.asInstanceOf[UTF8String]))
    buf
  }

  override def merge(buf: ThetaBuf, other: ThetaBuf): ThetaBuf =
    buf.mergeFrom(other)

  override def eval(buf: ThetaBuf): Any = buf.serialize()
  override def serialize(buf: ThetaBuf): Array[Byte] = buf.serialize()
  override def deserialize(b: Array[Byte]): ThetaBuf = ThetaBuf.deserialize(b)

  override def withNewMutableAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
  override def prettyName: String = "theta_sketch_agg"
}

/** `theta_sketch_union(sketch)` — union serialized theta sketches
  * (state-store collapse / re-aggregation over sketch bytes). */
case class ThetaSketchUnion(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Option[ThetaBuf]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_sketch_union expects a binary sketch, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Option[ThetaBuf] = None

  override def update(buf: Option[ThetaBuf], input: InternalRow): Option[ThetaBuf] = {
    val v = child.eval(input)
    // zero-length bytes are this aggregate's own empty-group output —
    // skipped like null, so re-merging stored states never invents a k
    // (capacity would otherwise depend on merge arrival order)
    if (v == null || v.asInstanceOf[Array[Byte]].isEmpty) buf
    else {
      val s = ThetaBuf.deserialize(v.asInstanceOf[Array[Byte]])
      buf match {
        case Some(acc) => Some(acc.mergeFrom(s))
        case None => Some(s)
      }
    }
  }

  override def merge(a: Option[ThetaBuf], b: Option[ThetaBuf]): Option[ThetaBuf] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(x.mergeFrom(y))
      case (x, None) => x
      case (None, y) => y
    }

  override def eval(buf: Option[ThetaBuf]): Any =
    buf.map(_.serialize()).getOrElse(Array.emptyByteArray)
  override def serialize(buf: Option[ThetaBuf]): Array[Byte] =
    buf.map(_.serialize()).getOrElse(Array.emptyByteArray)
  override def deserialize(b: Array[Byte]): Option[ThetaBuf] =
    if (b.isEmpty) None else Some(ThetaBuf.deserialize(b))

  override def withNewMutableAggBufferOffset(o: Int): ThetaSketchUnion =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaSketchUnion =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
  override def prettyName: String = "theta_sketch_union"
}

/** `theta_estimate(sketch)` — distinct-count estimate of one sketch. */
case class ThetaEstimate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_estimate"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_estimate expects a binary sketch, got ${child.dataType.simpleString}")

  /** Public entry for generated code: `nullSafeEval` is protected, and
    * calling it from Janino source only compiles by the accident of
    * GeneratedClass's package — same pattern as DDSketchQuantile. */
  def compute(b: Array[Byte]): Double =
    if (b.isEmpty) 0.0 else ThetaBuf.deserialize(b).estimate

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `theta_set_estimate(a, b, op)` — cardinality of a set expression
  * over two sketches: op 0 = `|A ∩ B|`, 1 = `|A ∖ B|`, 2 = `|A ∪ B|`.
  * The operation HLL cannot express: both sample sets are cut to the
  * common θ, the expression is evaluated on samples, the count is
  * scaled back by the sample rate. */
case class ThetaSetEstimate(left: Expression, right: Expression, op: Int)
    extends BinaryExpression {
  require(op >= 0 && op <= 2, s"op must be 0 (and), 1 (not), 2 (or): $op")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_set_estimate"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"theta_set_estimate expects (binary, binary), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  def compute(a: Array[Byte], b: Array[Byte]): Double =
    if (a.isEmpty || b.isEmpty) {
      if (op == 2) { // union degenerates to the non-empty side
        if (a.isEmpty && b.isEmpty) 0.0
        else ThetaBuf.deserialize(if (a.isEmpty) b else a).estimate
      } else if (op == 1 && b.isEmpty && a.nonEmpty) {
        ThetaBuf.deserialize(a).estimate
      } else 0.0
    } else ThetaBuf.setOpEstimate(
      ThetaBuf.deserialize(a), ThetaBuf.deserialize(b), op)

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object ThetaSketch {
  def sketchAgg(item: Column, k: Int = 4096): Column =
    ColumnBridge.column(
      ThetaSketchAgg(ColumnBridge.expression(item.cast("string")), k)
        .toAggregateExpression())

  def union(sketch: Column): Column =
    ColumnBridge.column(
      ThetaSketchUnion(ColumnBridge.expression(sketch)).toAggregateExpression())

  def estimate(sketch: Column): Column =
    ColumnBridge.column(ThetaEstimate(ColumnBridge.expression(sketch)))

  def intersectEstimate(a: Column, b: Column): Column =
    ColumnBridge.column(ThetaSetEstimate(
      ColumnBridge.expression(a), ColumnBridge.expression(b), 0))
}
