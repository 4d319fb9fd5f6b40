package graft.plans

import graft.functions.{CmsCounters, DotProduct, FeatureHashVec, GramPacks, KMVMins, MinhashSig, PolyHash, ShinglePacks, SquaredNorm, TitleCase}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The library's `spark.sql.extensions` entry point:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * registers the custom planner strategy (as-of join) and the custom
  * expression functions at session build time — no imperative
  * registration calls needed, and SQL-only users get `title_case` /
  * `dot_product` / `squared_norm` / `poly_hash` for free. Every
  * [[graft.GraftSession]] installs it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => DotSelfToNorm)
    ext.injectFunction(fn("title_case", exprs => TitleCase(exprs.head)))
    ext.injectFunction(fn("dot_product", exprs => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction(fn("squared_norm", exprs => SquaredNorm(exprs.head)))
    ext.injectFunction(fn("poly_hash", exprs => PolyHash(exprs.head)))
    ext.injectFunction(fn("shingle_packs", exprs => ShinglePacks(exprs.head)))
    ext.injectFunction(fn("minhash_sig", exprs => MinhashSig(exprs.head)))
    // gram_packs(text, w): w must be a literal int (gram width is fixed
    // at plan time; the kernel loop is specialized on it)
    ext.injectFunction(fn("gram_packs", exprs =>
      GramPacks(exprs(0), exprs(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"gram_packs w must be an integer literal, got $other")
      })))
    // kmv_mins(hash, k): k must be a literal int (sketch width is fixed
    // at plan time, like every bounded-state aggregate)
    ext.injectFunction(fn("kmv_mins", exprs =>
      KMVMins(exprs(0), exprs(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"kmv_mins k must be an integer literal, got $other")
      }).toAggregateExpression()))
    // feature_hash_vec(text, dim): dim must be a literal int (vector
    // width is fixed at plan time, like gram_packs' w)
    ext.injectFunction(fn("feature_hash_vec", exprs =>
      FeatureHashVec(exprs(0), exprs(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"feature_hash_vec dim must be an integer literal, got $other")
      })))
    // hll_registers(pack, m): m must be a literal int (register count is
    // fixed at plan time, like every bounded-state aggregate)
    ext.injectFunction(fn("hll_registers", exprs =>
      graft.functions.HllRegisters(exprs(0), exprs(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"hll_registers m must be an integer literal, got $other")
      }).toAggregateExpression()))
    // cms_counters(hash, d, w): d and w must be literal ints (the
    // counter-matrix shape is fixed at plan time)
    ext.injectFunction(fn("cms_counters", exprs => {
      def litInt(e: Expression, what: String): Int = e match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"cms_counters $what must be an integer literal, got $other")
      }
      CmsCounters(exprs(0), litInt(exprs(1), "d"), litInt(exprs(2), "w"))
        .toAggregateExpression()
    }))
  }
}
