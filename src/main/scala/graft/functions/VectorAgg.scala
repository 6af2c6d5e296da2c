package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx.ColumnBridge
import org.apache.spark.sql.types._

/** Element-wise running sum + count over embedding vectors. */
final class VecSumBuffer {
  var sums: Array[Double] = _
  var count: Long = 0L

  def add(a: ArrayData, isDouble: Boolean): Unit = {
    val n = a.numElements()
    if (sums == null) sums = new Array[Double](n)
    val m = math.min(n, sums.length)
    var i = 0
    while (i < m) {
      sums(i) += (if (isDouble) a.getDouble(i) else a.getFloat(i).toDouble)
      i += 1
    }
    count += 1
  }

  def mergeFrom(o: VecSumBuffer): VecSumBuffer = {
    if (o.sums != null) {
      if (sums == null) { sums = o.sums.clone(); count = o.count; return this }
      val m = math.min(sums.length, o.sums.length)
      var i = 0
      while (i < m) { sums(i) += o.sums(i); i += 1 }
      count += o.count
    }
    this
  }
}

/** `vector_avg(vec)` — element-wise mean of an embedding column as
  * `array<double>`.
  *
  * The per-group centroid of a vector column. As a
  * `TypedImperativeAggregate` it participates in partial aggregation:
  * each task reduces its partition to one (sums, count) pair per group
  * before the shuffle — only groups×tasks narrow rows cross the
  * exchange, versus the n·d row explosion of the
  * posexplode → groupBy(group, pos) → avg formulation.
  */
case class VectorAvg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecSumBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType)

  private lazy val isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"vector_avg requires array<float> or array<double>, got ${other.sql}")
    }
  }

  override def createAggregationBuffer(): VecSumBuffer = new VecSumBuffer

  override def update(buf: VecSumBuffer, input: InternalRow): VecSumBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[ArrayData], isDouble)
    buf
  }

  override def merge(buf: VecSumBuffer, other: VecSumBuffer): VecSumBuffer =
    buf.mergeFrom(other)

  override def eval(buf: VecSumBuffer): Any =
    if (buf.count == 0L || buf.sums == null) null
    else new GenericArrayData(buf.sums.map(_ / buf.count))

  override def serialize(buf: VecSumBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.count)
    val n = if (buf.sums == null) 0 else buf.sums.length
    out.writeInt(n)
    var i = 0
    while (i < n) { out.writeDouble(buf.sums(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecSumBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new VecSumBuffer
    buf.count = in.readLong()
    val n = in.readInt()
    if (n > 0) {
      buf.sums = new Array[Double](n)
      var i = 0
      while (i < n) { buf.sums(i) = in.readDouble(); i += 1 }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorAvg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorAvg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def prettyName: String = "vector_avg"
}

/** Running d×d Gram-matrix accumulator over integer vectors.
  *
  * The dimension is fixed by the first vector each buffer sees; a
  * later row (or a merged buffer) with a DIFFERENT length throws —
  * silently truncating ragged input would make the result depend on
  * which row a partition happened to see first (partition-order
  * nondeterminism), and `long_gram` is a public Column-API function,
  * not only the internal covariance kernel. */
final class GramBuffer {
  var d: Int = 0
  var g: Array[Long] = _

  def add(a: ArrayData): Unit = {
    val n = a.numElements()
    if (g == null) { d = n; g = new Array[Long](n * n) }
    else if (n != d) throw new IllegalArgumentException(
      s"long_gram: ragged input — vector of length $n after length $d")
    var i = 0
    while (i < n) {
      val ei = a.getLong(i)
      val row = i * d
      var j = 0
      while (j < n) { g(row + j) += ei * a.getLong(j); j += 1 }
      i += 1
    }
  }

  def mergeFrom(o: GramBuffer): GramBuffer = {
    if (o.g != null) {
      if (g == null) { d = o.d; g = o.g.clone(); return this }
      if (o.d != d) throw new IllegalArgumentException(
        s"long_gram: merging buffers of dimension ${o.d} and $d (ragged input)")
      var i = 0
      while (i < g.length) { g(i) += o.g(i); i += 1 }
    }
    this
  }
}

/** `long_gram(vec)` — the exact d×d Gram matrix Σᵣ vᵢ·vⱼ of an
  * `array<long>` column, returned row-major as `array<long>` of
  * length d².
  *
  * The one-pass covariance/whitening moment kernel: each task folds
  * its partition into one O(d²) buffer (map-side combine), so only
  * `tasks` buffers cross the exchange — versus the n·d² row blow-up
  * (and its shuffle) of the posexplode self-join formulation, which
  * at sf1.0 put 82M joined rows through the exchange for d = 64.
  * Appending a constant-1 component to the input vector makes the
  * last row/column the plain sums Σvᵢ and the corner the row count,
  * so mean-centering needs no second pass. All arithmetic is the
  * same Long multiply-accumulate the join formulation produced —
  * bit-identical results. */
case class LongGram(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GramBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"long_gram requires array<bigint>, got ${other.sql}")
    }
  }

  override def createAggregationBuffer(): GramBuffer = new GramBuffer

  override def update(buf: GramBuffer, input: InternalRow): GramBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[ArrayData])
    buf
  }

  override def merge(buf: GramBuffer, other: GramBuffer): GramBuffer =
    buf.mergeFrom(other)

  override def eval(buf: GramBuffer): Any =
    if (buf.g == null) null else new GenericArrayData(buf.g)

  override def serialize(buf: GramBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.d)
    val n = if (buf.g == null) 0 else buf.g.length
    out.writeInt(n)
    var i = 0
    while (i < n) { out.writeLong(buf.g(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): GramBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new GramBuffer
    buf.d = in.readInt()
    val n = in.readInt()
    if (n > 0) {
      buf.g = new Array[Long](n)
      var i = 0
      while (i < n) { buf.g(i) = in.readLong(); i += 1 }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): LongGram =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LongGram =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def prettyName: String = "long_gram"
}

object VectorAgg {
  /** Column API: element-wise mean of an embedding column. */
  def vectorAvg(vec: Column): Column =
    ColumnBridge.column(
      VectorAvg(ColumnBridge.expression(vec)).toAggregateExpression())

  /** Column API: exact row-major d×d Gram matrix of an `array<long>`
    * column. */
  def longGram(vec: Column): Column =
    ColumnBridge.column(
      LongGram(ColumnBridge.expression(vec)).toAggregateExpression())
}
