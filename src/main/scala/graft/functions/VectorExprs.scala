package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Vector kernels as native functions.
  *
  * Dot product: the `zip_with` + `aggregate` composition allocates an
  * intermediate boxed array per row and evaluates lambdas
  * interpretively — at millions of candidate pairs x 64 dims that
  * dominates ANN runtime. [[dot]] is one primitive loop, called once
  * per row inside the enclosing WholeStageCodegen stage. Accumulation
  * order is ascending index (a sequential left fold) — bit-identical
  * to the `aggregate`-based form and to the DuckDB oracle's
  * list_cosine_similarity.
  */
object VectorExprs extends Serializable {

  private val DoubleArray = ArrayType(DoubleType)

  /** `dot_product(a, b)` over two `array<double>` expressions (the SQL
    * registration in [[GraftExtensions]] builds it too). */
  def dotProduct(a: Expression, b: Expression): Expression =
    NativeCall("dot_product", this, "dot", DoubleType,
      Seq(DoubleArray, DoubleArray), Seq(a, b))

  def dotFast(a: Column, b: Column): Column =
    Bridge.column(dotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Sum of `x(i) * y(i)` over the shorter length. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray()
    val y = b.toDoubleArray()
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  /** All k PCA projections of a double-array column in ONE primitive
    * loop — see [[PcaProjector]]. `compPpm` is the component matrix
    * (k rows of d ppm weights). */
  def pcaProjectAll(v: Column, compPpm: Seq[Array[Long]]): Column =
    NativeCall.column("pca_project_all", new PcaProjector(compPpm.toArray),
      "project", ArrayType(LongType, containsNull = false), Seq(DoubleArray))(v)
}

/** All k PCA component projections of one vector as ONE kernel
  * returning `array<long>`.
  *
  * The declarative spelling — k separate columns, each a d-term
  * `lit(w)·q_i` fold with its own `round`/`cast` per coordinate —
  * generates k·d expression slots; at k=24, d=64 the projection
  * select blows the JVM's 64 KB method limit ("Code grows beyond
  * 64 KB"), falls out of whole-stage codegen entirely, and evaluates
  * interpreted, re-quantizing every coordinate k times. This kernel
  * quantizes each coordinate once and emits all k sums in a primitive
  * loop, codegen'd as a single call. Arithmetic is bit-identical to
  * the declarative form (same rounding call, same ascending-index long
  * accumulation), which the PcaSpec parity test pins.
  *
  * The projection: quantize each coordinate ONCE
  * (`(long) round(v_i · 10⁶)` under HALF_UP — the exact arithmetic of
  * `round(col · 1e6, 0).cast("long")`, via the same
  * `BigDecimal.valueOf(x).setScale(0, HALF_UP)` call Spark's Round
  * executes on doubles), then one long multiply-add loop per
  * component. Two projectors compare by their matrix's values, so
  * equal projections stay `sameSemantics`. */
private[functions] final class PcaProjector(
    val compPpm: Array[Array[Long]]) extends Serializable {
  private val k = compPpm.length
  private val d = if (k == 0) 0 else compPpm(0).length

  /** Null when any coordinate is null (parity with the expression
    * form, where one null coordinate nullifies every projection). */
  def project(arr: ArrayData): UnsafeArrayData = {
    require(arr.numElements() >= d,
      s"pca_project_all: vector has ${arr.numElements()} elements, " +
        s"model needs $d")
    val q = new Array[Long](d)
    var i = 0
    while (i < d) {
      if (arr.isNullAt(i)) return null
      q(i) = java.math.BigDecimal.valueOf(arr.getDouble(i) * 1000000.0d)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      i += 1
    }
    val out = new Array[Long](k)
    var c = 0
    while (c < k) {
      val comp = compPpm(c)
      var s = 0L
      var j = 0
      while (j < d) { s += comp(j) * q(j); j += 1 }
      out(c) = s
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def equals(o: Any): Boolean = o match {
    case p: PcaProjector =>
      java.util.Arrays.deepEquals(
        compPpm.asInstanceOf[Array[AnyRef]], p.compPpm.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode: Int =
    java.util.Arrays.deepHashCode(compPpm.asInstanceOf[Array[AnyRef]])
}
