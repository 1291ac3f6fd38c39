package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproxTopKCombine, CombineInternal, TypedImperativeAggregate}
import org.apache.spark.sql.types.DataType

/** `merge_topk(state)` — Spark's `approx_top_k_combine` with a safe empty
  * buffer. The combine learns its item type from the first sketch it
  * reads, so a buffer that read none cannot be serialized or evaluated
  * (`scala.MatchError: null` in `ApproxTopK.genSketchSerDe`). A keyless
  * aggregate makes such a buffer for every input partition that holds no
  * sketch: an empty shuffle partition with adaptive execution off, or an
  * empty input. Here an empty buffer serializes as zero bytes, merges as
  * the identity and evaluates to null; every other buffer goes through
  * the combine unchanged, so a merged sketch is bit-for-bit the same.
  */
case class TopKCombine(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CombineInternal[Any]] {

  @transient private lazy val combine = new ApproxTopKCombine(child)

  private def isEmpty(buf: CombineInternal[Any]): Boolean = buf.getItemDataType == null

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKCombine =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult = combine.checkInputDataTypes()

  override def createAggregationBuffer(): CombineInternal[Any] = combine.createAggregationBuffer()

  override def update(buf: CombineInternal[Any], input: InternalRow): CombineInternal[Any] =
    if (child.eval(input) == null) buf else combine.update(buf, input)

  override def merge(b1: CombineInternal[Any], b2: CombineInternal[Any]): CombineInternal[Any] =
    if (isEmpty(b2)) b1 else if (isEmpty(b1)) b2 else combine.merge(b1, b2)

  override def eval(buf: CombineInternal[Any]): Any = if (isEmpty(buf)) null else combine.eval(buf)

  override def serialize(buf: CombineInternal[Any]): Array[Byte] =
    if (isEmpty(buf)) Array.emptyByteArray else combine.serialize(buf)
  override def deserialize(bytes: Array[Byte]): CombineInternal[Any] =
    if (bytes.isEmpty) createAggregationBuffer() else combine.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKCombine =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKCombine =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = true
  override def dataType: DataType = combine.dataType
  override def prettyName: String = "merge_topk"
}
