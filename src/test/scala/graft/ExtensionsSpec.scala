package graft

import graft.plans.{AsofRewrite, AsofStrategy, HierarchyDoublingStrategy, RecursionDoubling}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.graft.Shims

/** The spark.sql.extensions injection path: GraftExtensions registers every
  * custom function on a fresh registry (what session construction does with
  * `--conf spark.sql.extensions=graft.GraftExtensions`), installs the same
  * functions and planner hooks as `GraftFunctions.register`, and the
  * functions evaluate correctly through SQL.
  */
class ExtensionsSpec extends GraftSparkSpec {

  private val allFns = Seq("csv_column_at", "csv_field_count",
    "xor_fold_hash", "rolling_hash", "word_shingles", "minhash_sig",
    "simhash64", "token_count", "pair_encode", "vec_dot", "vec_cosine",
    "hyperplane_sig", "misra_gries", "pq_encode", "pq_adc_dot")

  private def graftNames(registry: FunctionRegistry): Set[String] =
    registry.listFunction().map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)

  test("GraftExtensions registers all custom functions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = FunctionRegistry.builtin.clone()
    Shims.applyExtensionFunctions(ext, registry)
    assert(graftNames(registry) == allFns.toSet)
  }

  // hand-written like allFns: the independent check on the shared table
  private val allStrategies = Set[Any](AsofStrategy, HierarchyDoublingStrategy)
  private val allRules = Set[Any](AsofRewrite, RecursionDoubling)

  test("extensions and register() install the same functions and hooks") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val (extStrategies, extRules) = Shims.extensionHooks(ext, spark)
    assert(extStrategies.toSet[Any] == allStrategies && extStrategies.size == 2)
    assert(extRules.toSet[Any] == allRules && extRules.size == 2)

    val fresh = spark.newSession()
    assert(graftNames(fresh.sessionState.functionRegistry).isEmpty)
    graft.functions.GraftFunctions.register(fresh)
    assert(graftNames(fresh.sessionState.functionRegistry) == allFns.toSet)
    assert(fresh.experimental.extraStrategies.toSet[Any] == allStrategies)
    assert(fresh.experimental.extraOptimizations.toSet[Any] == allRules)
  }

  test("register() twice leaves each hook installed exactly once") {
    val fresh = spark.newSession()
    graft.functions.GraftFunctions.register(fresh)
    graft.functions.GraftFunctions.register(fresh)
    val exp = fresh.experimental
    allStrategies.foreach(s => assert(exp.extraStrategies.count(_ == s) == 1, s))
    allRules.foreach(r => assert(exp.extraOptimizations.count(_ == r) == 1, r))
    assert(graftNames(fresh.sessionState.functionRegistry) == allFns.toSet)
  }

  test("custom functions evaluate through SQL") {
    val r = spark.sql(
      """SELECT csv_column_at('a,"b,c",d', 1) AS f,
        |  csv_field_count('a,"b,c",d') AS n,
        |  xor_fold_hash('Machine7', 17, 8) AS pid,
        |  rolling_hash('abc') AS rh""".stripMargin).head()
    assert(r.getString(0) == "\"b,c\"")
    assert(r.getInt(1) == 3)
    var h = 17; "Machine7".getBytes.foreach(b => h = h ^ (b & 0xff))
    assert(r.getInt(2) == h % 8)
    var rh = 0L; "abc".getBytes.foreach(b => rh = (rh * 31 + (b & 0xff)) % 1000000007L)
    assert(r.getLong(3) == rh)
  }

  test("sketch and vector kernels evaluate through SQL") {
    val r = spark.sql(
      """SELECT word_shingles('a b c d', 3) AS sh,
        |  token_count('  a b  c ') AS tc,
        |  size(minhash_sig(word_shingles('a b c d', 3), 8)) AS k,
        |  pair_encode(array(3L, 1L, 2L)) AS pk,
        |  vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |          array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot,
        |  round(vec_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |          array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))), 6) AS cos
        |""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(r.getInt(1) == 3)
    assert(r.getInt(2) == 8)
    // pairs of sorted ids (1,2,3): (1,2), (1,3), (2,3) as (a, b) structs
    assert(r.getSeq[org.apache.spark.sql.Row](3)
      .map(p => (p.getLong(0), p.getLong(1))) ==
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(r.getDouble(4) == 11.0)
    assert(r.getDouble(5) == 1.0)
  }

  test("misra_gries aggregate evaluates through SQL") {
    import spark.implicits._
    (Seq.fill(50)("hot") ++ (0 until 60).map(i => s"c$i"))
      .toDF("token").createOrReplaceTempView("mg_in")
    val cands = spark.sql("SELECT misra_gries(token, 5) AS c FROM mg_in")
      .head().getSeq[String](0)
    assert(cands.contains("hot")) // freq 50 > N/(k+1) ≈ 18 -> guaranteed
  }
}
