package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExpectsInputTypes, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** A fold of one bigint column into `width` long words, merged word by
  * word. The kernel of a [[NativeAgg]]: it is serializable, since it
  * travels with the plan, and compares by the inputs it was built from
  * (a case class over its parameters), so equal frames stay
  * `sameSemantics`. */
trait LongFold extends Serializable {

  /** Number of long words in the buffer. */
  def width: Int

  /** Every word's value before any input. */
  def zero: Long

  /** Fold the non-null input `x` into words `buf(off)` to
    * `buf(off + width - 1)`. */
  def update(buf: InternalRow, off: Int, x: Long): Unit

  /** One word of two partial folds combined: associative and
    * commutative, with [[zero]] as its identity. */
  def merge(a: Long, b: Long): Long
}

/** The one aggregate binding of every native fold: `name(child)` folds
  * the child's bigint values with `fold` and answers its words as a
  * non-null `array<bigint>`. A NULL input is skipped; an empty group
  * answers the zero words.
  *
  * It has the shape of Spark's `HyperLogLogPlusPlus` (Heule et al.,
  * "HyperLogLog in Practice", EDBT 2013): an `ImperativeAggregate`
  * whose buffer is a fixed number of non-null long words. A fixed-width
  * buffer keeps the aggregate in `HashAggregateExec`'s Tungsten hash
  * map, with the usual partial/final split, shuffle of the partial
  * words, and spill to sort-based aggregation, and no code is
  * generated for the fold: one interpreted call per input row runs a
  * tight loop over the words. A k-slot sketch written as k aggregate
  * expressions instead generates one class holding all k slots, which
  * for a 64-slot MinHash is thousands of lines compiled on every cold
  * pass.
  *
  * It is not a `TypedImperativeAggregate`: an object buffer plans as
  * `ObjectHashAggregateExec`, which falls back to sort-based
  * aggregation above `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * (128) keys per task and keeps a Java object per key on the heap.
  */
case class NativeAgg(
    name: String,
    fold: LongFold,
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ImperativeAggregate with UnaryLike[Expression] with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = name
  override def toString: String = s"$name($child)"
  override protected def flatArguments: Iterator[Any] = Iterator.single(child)

  override val aggBufferAttributes: Seq[AttributeReference] =
    Seq.tabulate(fold.width)(i => AttributeReference(s"$name[$i]", LongType, nullable = false)())
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())
  override def aggBufferSchema: StructType = DataTypeUtils.fromAttributes(aggBufferAttributes)

  override def withNewMutableAggBufferOffset(off: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = off)

  override def initialize(buf: InternalRow): Unit = {
    val z = fold.zero
    var i = 0
    while (i < fold.width) { buf.setLong(mutableAggBufferOffset + i, z); i += 1 }
  }

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    val v = child.eval(input)
    if (v != null) fold.update(buf, mutableAggBufferOffset, v.asInstanceOf[Long])
  }

  override def merge(buf: InternalRow, in: InternalRow): Unit = {
    var i = 0
    while (i < fold.width) {
      val o = mutableAggBufferOffset + i
      buf.setLong(o, fold.merge(buf.getLong(o), in.getLong(inputAggBufferOffset + i)))
      i += 1
    }
  }

  override def eval(buf: InternalRow): Any = {
    val words = new Array[Long](fold.width)
    var i = 0
    while (i < words.length) { words(i) = buf.getLong(mutableAggBufferOffset + i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(words)
  }

  override protected def withNewChildInternal(newChild: Expression): NativeAgg =
    copy(child = newChild)
}

object NativeAgg {

  /** `name(c)` as an aggregate Column, for `groupBy(...).agg`. */
  def column(name: String, fold: LongFold)(c: Column): Column =
    Bridge.column(NativeAgg(name, fold, Bridge.expression(c)).toAggregateExpression())
}
