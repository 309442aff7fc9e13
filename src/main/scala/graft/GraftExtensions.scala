package graft

import graft.functions.{CsvColumnAt, CsvFieldCount, HyperplaneSig, MinHashSig, MisraGriesAgg, PairEncode, PqAdcDot, PqEncode, RollingHash, SimHash64, TokenCount, VecCosine, VecDot, WordShingles, XorFoldHash}
import graft.functions.GraftFunctions.delimOf
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Catalyst injection point: register the graft expressions on every session
  * via `--conf spark.sql.extensions=graft.GraftExtensions` — the idiomatic
  * cluster deployment (no driver-side register() call needed; executors and
  * Thrift/Connect sessions all see the functions). `GraftExtensions.install`
  * is the programmatic equivalent for a running session; both walk the one
  * table in the companion object.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    rules.foreach(r => ext.injectOptimizerRule(_ => r))
    functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), info(f), f.build)))
  }
}

/** Everything graft installs into a session, listed once. */
object GraftExtensions {

  /** Install every strategy, rule and function of the table on a running
    * session. Idempotent: a hook already present is not added again, and a
    * function already bound to its builder here is not re-bound.
    */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    strategies.foreach(s =>
      if (!exp.extraStrategies.contains(s))
        exp.extraStrategies = exp.extraStrategies :+ s)
    rules.foreach(r =>
      if (!exp.extraOptimizations.contains(r))
        exp.extraOptimizations = exp.extraOptimizations :+ r)
    val registry = spark.sessionState.functionRegistry
    functions.foreach(f =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(f.name)).contains(f.build))
        registry.createOrReplaceTempFunction(f.name, f.build, "built-in"))
  }

  /** One SQL function: its name, `DESCRIBE FUNCTION` usage and builder. */
  final case class Fn(name: String, usage: String,
                      build: Seq[Expression] => Expression)

  private def info(f: Fn) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name,
      f.usage, "", "", "", "", "", "", "built-in")

  /** Physical strategies: the native as-of join, and pointer doubling for
    * linear recursive CTEs (UnionLoop). */
  val strategies: Seq[SparkStrategy] =
    Seq(graft.plans.AsofStrategy, graft.plans.HierarchyDoublingStrategy)

  /** Optimizer rules: the composed union+window as-of idiom ->
    * AsofJoinPlan, and the linear-additive recursive CTE -> doubling. */
  val rules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.AsofRewrite, graft.plans.RecursionDoubling)

  val functions: Seq[Fn] = Seq(
    Fn("csv_column_at",
      "_FUNC_(line, idx[, delim]) - raw CSV-family field slice (reference dialect)",
      e => if (e.size >= 3) CsvColumnAt(e(0), e(1), delimOf(e(2), "csv_column_at"))
           else CsvColumnAt(e(0), e(1))),
    Fn("csv_field_count",
      "_FUNC_(line[, delim]) - field count under the reference dialect",
      e => if (e.size >= 2) CsvFieldCount(e.head, delimOf(e(1), "csv_field_count"))
           else CsvFieldCount(e.head)),
    Fn("xor_fold_hash", "_FUNC_(value, seed, n) - reference partition hash",
      e => XorFoldHash(e(0), e(1), e(2))),
    Fn("rolling_hash", "_FUNC_(value) - Karp-Rabin polynomial fingerprint",
      e => RollingHash(e.head)),
    Fn("word_shingles", "_FUNC_(text, n) - distinct n-word shingles",
      e => WordShingles(e(0), e(1))),
    Fn("minhash_sig", "_FUNC_(shingles, k) - k-element MinHash signature",
      e => MinHashSig(e(0), e(1))),
    Fn("simhash64", "_FUNC_(tokens) - 64-bit SimHash fingerprint",
      e => SimHash64(e.head)),
    Fn("token_count", "_FUNC_(text) - whitespace token count",
      e => TokenCount(e.head)),
    Fn("pair_encode", "_FUNC_(ids) - packed unordered id pairs",
      e => PairEncode(e.head)),
    Fn("vec_dot", "_FUNC_(a, b) - float-vector dot product",
      e => VecDot(e(0), e(1))),
    Fn("vec_cosine", "_FUNC_(a, b) - float-vector cosine similarity",
      e => VecCosine(e(0), e(1))),
    Fn("hyperplane_sig", "_FUNC_(vec, planes) - hyperplane LSH signature",
      e => HyperplaneSig(e(0), e(1))),
    Fn("pq_encode",
      "_FUNC_(vec, codebook, subspaces) - product-quantization codes",
      e => PqEncode(e(0), e(1), e(2))),
    Fn("pq_adc_dot",
      "_FUNC_(query, codes, codebook, subspaces) - asymmetric PQ inner product",
      e => PqAdcDot(e(0), e(1), e(2), e(3))),
    // aggregate: k must be a literal int
    Fn("misra_gries",
      "_FUNC_(col, k) - Misra-Gries heavy-hitter candidate aggregate",
      e => MisraGriesAgg(e.head, e(1).eval(null).asInstanceOf[Int])
        .toAggregateExpression()))
}
