package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd float-vector kernels (SURVEY.md §2.11 E3).
  *
  * `aggregate(zip_with(a, b, ...))` expresses a dot product but runs on
  * the interpreted higher-order-function path with per-element closure
  * invocation; these expressions compile to a tight primitive loop over
  * the unsafe array data — the difference is ~an order of magnitude on
  * wide embedding columns, which matters when the cross-join scores
  * millions of candidate pairs.
  */
object VectorOps2 {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def norm2(a: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val v = a.getDouble(i)
      acc += v * v
      i += 1
    }
    acc
  }

  /** Spark's `round(x, 4)` for DoubleType, verbatim: both the
    * interpreted and codegen paths of Catalyst's RoundBase return
    * NaN/Infinity unchanged and otherwise compute
    * java.math.BigDecimal.valueOf(x).setScale(scale, HALF_UP) — the
    * kernel below must round IDENTICALLY or its argmax could disagree
    * with the oracle's at a 4-dp tie (CentroidKernelSpec pins this
    * equality over the fixture corpus, including a zero-norm vector
    * whose 0/0 cosine is NaN: without the guard,
    * BigDecimal.valueOf(NaN) throws NumberFormatException).
    */
  def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The two best (rounded-cosine DESC, id ASC) centroids of `members`
    * (array<struct<id:long, cv:array<double>, cn2:double>>) for a
    * vector (`v`, `n2`), as struct(c1, i1, c2, i2) — i2 stays
    * Long.MaxValue when fewer than two members exist. One tight
    * primitive loop per ROW; replaces a `functions.aggregate` fold
    * whose per-element interpreted step (closure + named-struct
    * allocation) measured ~40 s at the sf100 rung (2M vectors × ~85
    * candidate centroids) where this loop is ~10× cheaper. Exact same
    * total order as the fold it replaces: ties on the 4-dp rounded
    * cosine resolve to the lower id, and a slot-1 win demotes the old
    * best to slot 2.
    *
    * NaN cosines (zero-norm vectors: 0/0) no longer crash — round4
    * passes NaN through like Catalyst's RoundBase — and are PINNED to
    * never beat either slot (Java's `NaN > x` is false). This is a
    * deliberate deviation from the replaced Catalyst fold, whose
    * comparison semantics order NaN greatest: a zero-norm vector has
    * no meaningful nearest centroid, and "NaN wins" would dump every
    * zero vector on whichever centroid the fold visited first.
    * CentroidKernelSpec pins both the no-crash and the
    * degenerate-slot result for a zero-norm input.
    */
  def centroidTop2(members: ArrayData, v: ArrayData, n2: Double)
      : org.apache.spark.sql.catalyst.InternalRow = {
    var c1 = -2.0; var i1 = Long.MaxValue
    var c2 = -3.0; var i2 = Long.MaxValue
    val n = members.numElements()
    var i = 0
    while (i < n) {
      val m = members.getStruct(i, 3)
      val cs = round4(dot(v, m.getArray(1)) / math.sqrt(n2 * m.getDouble(2)))
      val id = m.getLong(0)
      if (cs > c1 || (cs == c1 && id < i1)) {
        c2 = c1; i2 = i1; c1 = cs; i1 = id
      } else if (cs > c2 || (cs == c2 && id < i2)) {
        c2 = cs; i2 = id
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](c1, i1, c2, i2))
  }
}

/** dot_product(array<double>, array<double>) -> double. Null if either
  * side is null; elements are assumed non-null (fixture embeddings).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps2.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorOps2.dot($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProduct = copy(l, r)
  override def prettyName: String = "dot_product"
}

/** squared_norm(array<double>) -> double. */
case class SquaredNorm(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any =
    VectorOps2.norm2(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorOps2.norm2($a)")
  override protected def withNewChildInternal(c: Expression): SquaredNorm = copy(c)
  override def prettyName: String = "squared_norm"
}

/** centroid_top2(members, v, n2) -> struct(c1, i1, c2, i2): the two
  * best (rounded-cosine DESC, id ASC) centroids for a row's vector —
  * the scan-side argmax of the two-level seeded quantizer
  * (SelectionOps.candidateCells / assignTwoLevel*). Compiles to one
  * static call around a primitive loop (see [[VectorOps2.centroidTop2]]).
  */
case class CentroidTop2(first: Expression, second: Expression,
                        third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import org.apache.spark.sql.types._
  override def dataType: DataType = StructType(Seq(
    StructField("c1", DoubleType, nullable = false),
    StructField("i1", LongType, nullable = false),
    StructField("c2", DoubleType, nullable = false),
    StructField("i2", LongType, nullable = false)))
  override protected def nullSafeEval(m: Any, v: Any, n2: Any): Any =
    VectorOps2.centroidTop2(m.asInstanceOf[ArrayData],
      v.asInstanceOf[ArrayData], n2.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (m, v, n2) =>
      s"graft.functions.VectorOps2.centroidTop2($m, $v, $n2)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CentroidTop2 = copy(f, s, t)
  override def prettyName: String = "centroid_top2"
}

object VectorFunctions {
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def squaredNorm(a: Column): Column =
    ColumnBridge.column(SquaredNorm(ColumnBridge.expression(a)))
  def centroidTop2(members: Column, v: Column, n2: Column): Column =
    ColumnBridge.column(CentroidTop2(ColumnBridge.expression(members),
      ColumnBridge.expression(v), ColumnBridge.expression(n2)))
}
