package graft.plans

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Attribute, AttributeSet, EqualTo, Expression, Greatest, IsNotNull, Least}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LeafNode, LogicalPlan, Project, UnionLoop, UnionLoopRef}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims

/** Optimizer rule: recognize a LINEAR recursive CTE (`WITH RECURSIVE`
  * whose recursive term derives each new row from exactly ONE recursive
  * row equi-joined to a static relation, with additively-accumulating
  * columns — the hierarchy-traversal shape) and rewrite Spark's
  * `UnionLoop` to a pointer-doubling plan.
  *
  * Why: UnionLoop executes ONE sequential join per LEVEL — wall time
  * scales with hierarchy DEPTH regardless of per-level row volume, and
  * it retains every level's shuffle files. Pointer doubling resolves
  * the same forest in ceil(log2 depth) self-joins — measured 119.9×
  * (13.8 s vs 1659.6 s on a 5000-deep × 200-wide chain,
  * SCALE.md; RecursionScale, historical (probe removed after 8bdcef0)) —
  * because round k covers 2^k hops.
  *
  * Matched shape (all conditions REQUIRED; anything else leaves the
  * plan untouched — the rule can only upgrade, never break):
  *
  * {{{
  *   WITH RECURSIVE r AS (
  *     <anchor>                                   -- any static plan
  *     UNION ALL
  *     SELECT s.key, r.c1 + e1(s), r.c2 + e2(s), ...
  *     FROM static s JOIN r ON r.key = h(s)       -- one equi-join
  *     [WHERE p(s)]                               -- static-side only
  *   )
  * }}}
  *
  * i.e. after optimization: `Project` over an Inner `Join` of a static
  * subplan (no UnionLoopRef inside, all expressions deterministic) with
  * the loop's own `UnionLoopRef` (non-accumulated), whose condition is
  * `refKey = h(static)` — or an AND of such equalities over distinct
  * ref attributes (the COMPOSITE key of the multi-tenant shape, e.g.
  * `r.tenant = s.tenant AND r.node = h(s)`: the key tuple is the
  * pointer) — and whose projection has each key-tuple column sourced
  * purely from the static side (the NEW key) with every other
  * column at the SAME position being one of the three PATH MONOIDS —
  * `refCol + e(static)` (`Add`), `greatest(refCol, e(static)...)`, or
  * `least(refCol, e(static)...)` — or a plain carry-through. The
  * accumulation must be associative along the path for
  * segment-composition to be sound; sums, path-max and path-min are
  * (greatest/least are also null-skipping IDENTICALLY in the level and
  * segment forms, so nulls compose), string concat / multiplication
  * are not matched. `UnionLoop.limit` set (a pushed LIMIT) bails out:
  * limit semantics depend on level order, which doubling does not
  * reproduce.
  *
  * Execution (`HierarchyDoublingExec`) handles the data-dependent parts
  * the plan cannot know statically:
  *   - child keys must be UNIQUE (a DAG/multi-parent node multiplies
  *     rows per PATH in the original — doubling would compose counts
  *     multiplicatively); checked at runtime, falls back to faithful
  *     level-at-a-time iteration when violated;
  *   - an anchor key appearing as a CHILD in the static relation means
  *     interior anchors (a node can be reached both as an anchor and as
  *     a descendant, so UNION ALL emits it twice) — same fallback;
  *   - the recursion limits (`spark.sql.cteRecursionLevelLimit` /
  *     `cteRecursionRowLimit`) are enforced on BOTH paths, so a
  *     hierarchy the original would reject still errors (doubling
  *     computes depth cheaply and checks it after the fact).
  *
  * Disable with `spark.graft.recursionDoubling.enabled=false` (specs
  * measuring the UnionLoop form itself; so did the cte arm of
  * RecursionScale, historical (probe removed after 8bdcef0)).
  */
object RecursionDoubling extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.recursionDoubling.enabled", "true")
        .toBoolean) plan
    else plan.transformUp {
      case loop: UnionLoop => rewrite(loop).getOrElse(loop)
    }

  private def unalias(e: Expression): Expression = e match {
    case Alias(c, _) => unalias(c)
    case other => other
  }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case a: org.apache.spark.sql.catalyst.expressions.And =>
      splitConj(a.left) ++ splitConj(a.right)
    case other => Seq(other)
  }

  /** Strip the optimizer's float-key normalization wrappers
    * (`KnownFloatingPointNormalized(NormalizeNaNAndZero(x))`) from a
    * join-key side: the exec rebuilds its pointer joins through the
    * DataFrame API, where NormalizeFloatingNumbers re-inserts the
    * identical normalization — so matching through the wrapper is
    * semantics-preserving for double/float key components.
    */
  private def unwrapNorm(e: Expression): Expression = e match {
    case org.apache.spark.sql.catalyst.expressions
        .KnownFloatingPointNormalized(
          org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero(c)) =>
      unwrapNorm(c)
    case other => other
  }

  private def rewrite(loop: UnionLoop): Option[LogicalPlan] = {
    if (loop.limit.isDefined || loop.maxDepth.isDefined) return None
    val (projList, join) = loop.recursion match {
      case Project(list, j: Join) => (list, j)
      case _ => return None
    }
    if (join.joinType != Inner || join.condition.isEmpty) return None
    // the optimizer infers `isnotnull(refKey)` above the ref from the
    // join condition (InferFiltersFromConstraints) — semantics-neutral
    // (a null key never equi-joins), so unwrap it; any OTHER predicate
    // over the recursive side would prune mid-chain and is not matched
    def unwrapRef(p: LogicalPlan): Option[(UnionLoopRef, Seq[Attribute])] =
      p match {
        case r: UnionLoopRef => Some((r, Nil))
        case Filter(cond, r: UnionLoopRef) =>
          // a composite key infers one isnotnull per component — split
          // the FULL conjunction tree, not just one And level
          val attrs = splitConj(cond).map {
            case IsNotNull(a: Attribute) => a
            case _ => return None
          }
          Some((r, attrs))
        case _ => None
      }
    val (static, ref, nnAttrs) = (join.left, join.right) match {
      case (s, u) if unwrapRef(u).exists(r =>
          r._1.loopId == loop.id && !r._1.accumulated) =>
        val (r, nn) = unwrapRef(u).get; (s, r, nn)
      case (u, s) if unwrapRef(u).exists(r =>
          r._1.loopId == loop.id && !r._1.accumulated) =>
        val (r, nn) = unwrapRef(u).get; (s, r, nn)
      case _ => return None
    }
    // the static side must be genuinely static (no second recursive
    // reference) and deterministic (the doubling re-evaluates it)
    if (static.collectFirst { case r: UnionLoopRef => r }.isDefined)
      return None
    if (static.exists(_.expressions.exists(e =>
        e.exists(!_.deterministic)))) return None

    val staticOut = AttributeSet(static.output)
    val refOut = ref.output // positionally aligned with loop.output
    val refSet = AttributeSet(refOut)

    // the join key may be COMPOSITE (the multi-tenant shape: ON
    // r.tenant = s.tenant AND r.node = h(s)) — accept any conjunction
    // of `refAttr = staticExpr` equalities over DISTINCT ref attributes
    // and treat the key tuple as the pointer
    val keyEqs: Seq[(Attribute, Expression)] =
      splitConj(join.condition.get).map { conj =>
        (conj match {
          case EqualTo(l, r) => Some((unwrapNorm(l), unwrapNorm(r)))
          case _ => None
        }) match {
          case Some((a: Attribute, e))
              if refSet.contains(a) && e.references.subsetOf(staticOut) =>
            (a, e)
          case Some((e, a: Attribute))
              if refSet.contains(a) && e.references.subsetOf(staticOut) =>
            (a, e)
          case _ => return None
        }
      }
    if (keyEqs.isEmpty ||
      keyEqs.map(_._1.exprId).distinct.length != keyEqs.length)
      return None
    val keyPos = keyEqs.map { case (a, _) =>
      refOut.indexWhere(_.exprId == a.exprId)
    }
    if (keyPos.exists(_ < 0) || projList.length != refOut.length)
      return None
    val keyPosOf = keyEqs.map(_._1.exprId).zip(keyPos).toMap
    // any unwrapped isnotnull must be on a join-key component — a
    // not-null constraint on a non-key recursive column is a real
    // filter, not the inferred artifact
    if (nnAttrs.exists(nn => !keyPosOf.contains(nn.exprId))) return None

    val childKeyAt =
      scala.collection.mutable.Map[Int, Expression]()
    val deltas = Seq.newBuilder[(Int, Expression, String)]
    val carries = Seq.newBuilder[Int]
    val keySet = keyPos.toSet
    projList.zipWithIndex.foreach { case (ne, i) =>
      val e = unalias(ne)
      if (keySet(i)) {
        if (!e.references.subsetOf(staticOut)) return None
        childKeyAt(i) = e
      } else {
        val refAttr = refOut(i)
        // greatest/least are variadic: match when EXACTLY one child is
        // the recursive column and every other child is static (the
        // extra statics fold into one delta — greatest(r.c, a, b) ==
        // greatest(r.c, greatest(a, b)))
        def monoid(kids: Seq[Expression],
                   rebuild: Seq[Expression] => Expression,
                   kind: String): Boolean = {
          val (refKids, rest) = kids.partition {
            case a: Attribute => a.exprId == refAttr.exprId
            case _ => false
          }
          val ok = refKids.size == 1 && rest.nonEmpty &&
            rest.forall(_.references.subsetOf(staticOut))
          if (ok) deltas +=
            ((i, if (rest.size == 1) rest.head else rebuild(rest), kind))
          ok
        }
        e match {
          // pass-through (e.g. carrying the root id): constant along
          // the path, so it resolves to the anchor row's value
          case a: Attribute if a.exprId == refAttr.exprId =>
            carries += i
          case Add(a: Attribute, d, _)
              if a.exprId == refAttr.exprId &&
                d.references.subsetOf(staticOut) =>
            deltas += ((i, d, "add"))
          case Add(d, a: Attribute, _)
              if a.exprId == refAttr.exprId &&
                d.references.subsetOf(staticOut) =>
            deltas += ((i, d, "add"))
          case g: Greatest if monoid(g.children, Greatest(_), "greatest") =>
          case l: Least if monoid(l.children, Least(_), "least") =>
          case _ => return None
        }
      }
    }
    // child/parent key components aligned in keyPos order
    val childKey = keyPos.map(p => childKeyAt.getOrElse(p, return None))
    val parentKey = keyEqs.map(_._2)
    if (childKey.exists(!_.deterministic) ||
      parentKey.exists(!_.deterministic)) return None
    Some(HierarchyDoublingPlan(
      loop.output, loop.anchor, static, keyPos, childKey, parentKey,
      deltas.result(), carries.result()))
  }
}

/** The rewritten linear recursion: a leaf capturing the anchor and
  * static subplans (they are executed as sub-queries by the exec, not
  * planned as children — the iterative doubling needs per-round
  * materialization no static DAG can express).
  */
case class HierarchyDoublingPlan(
    loopOutput: Seq[Attribute],
    anchor: LogicalPlan,
    static: LogicalPlan,
    keyPos: Seq[Int], // projection positions of the key tuple, in
                      // join-condition order (1 entry = simple key)
    childKey: Seq[Expression], // static-side new-key exprs, keyPos-aligned
    parentKey: Seq[Expression], // static-side pointer exprs, keyPos-aligned
    deltas: Seq[(Int, Expression, String)], // (position, per-hop expr, add|greatest|least)
    carries: Seq[Int]) extends LeafNode {
  override def output: Seq[Attribute] = loopOutput
  override def innerChildren: Seq[LogicalPlan] = Seq(anchor, static)
}

object HierarchyDoublingStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: HierarchyDoublingPlan =>
      HierarchyDoublingExec(p.loopOutput, p) :: Nil
    case _ => Nil
  }
}

/** Executes the doubling: per-round localCheckpoint materialization
  * (exactly the Graph.rootsAndDepth discipline), early exit when no
  * pointer advanced, and the runtime soundness checks + level/row limit
  * enforcement documented on [[RecursionDoubling]].
  */
/** `plan` is @transient: the physical tree serializes into task
  * closures, and the captured LOGICAL subplans (constraint caches etc.)
  * are not serializable — nor needed off the driver: doExecute drives
  * everything driver-side and hands parents an already-materialized
  * lineage.
  */
case class HierarchyDoublingExec(loopOutput: Seq[Attribute],
    @transient plan: HierarchyDoublingPlan) extends LeafExecNode {

  override def output: Seq[Attribute] = loopOutput

  /** Segment composition / anchor fold for one accumulator column —
    * the per-kind monoid op (sums add, path-max/min select).
    */
  private def comb(kind: String)(a: Column, b: Column): Column = kind match {
    case "add"      => a + b
    case "greatest" => greatest(a, b)
    case "least"    => least(a, b)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val spark = session
    val sconf = spark.sessionState.conf
    // the REAL SQLConf entries — defaults come from Spark, not
    // duplicated literals that could drift across versions
    val levelLimit = sconf.getConf(
      org.apache.spark.sql.internal.SQLConf.CTE_RECURSION_LEVEL_LIMIT)
    val rowLimit = sconf.getConf(
      org.apache.spark.sql.internal.SQLConf.CTE_RECURSION_ROW_LIMIT).toLong
    val idx = plan.loopOutput.indices
    val nk = plan.keyPos.length
    val nodeCols = (0 until nk).map(j => s"_gr_node$j")

    val anchorDf = Shims.ofRows(spark, plan.anchor)
      .toDF(idx.map(i => s"_gr_a$i"): _*).localCheckpoint()
    val staticDf = Shims.ofRows(spark, plan.static)
    // parents relation: (child node tuple, parent pointer tuple,
    // per-hop deltas) — one column per key component, joined on the
    // CONJUNCTION of component equalities so null components keep
    // their no-match equi-join semantics (a packed struct would
    // compare nulls as equal)
    val p = staticDf.select(
        (0 until nk).map(j =>
          Shims.column(plan.childKey(j)).as(s"_gr_node$j")) ++
        (0 until nk).map(j =>
          Shims.column(plan.parentKey(j)).as(s"_gr_anc$j")) ++
        plan.deltas.map { case (i, e, _) =>
          Shims.column(e).as(s"_gr_d$i") }: _*)
      .localCheckpoint()

    val hasDupChild = !p.groupBy(nodeCols.map(col): _*)
      .agg(count(lit(1)).as("_gr_c"))
      .filter(col("_gr_c") > 1).isEmpty
    val anchorAsChild = !p.join(
      anchorDf.select(plan.keyPos.zipWithIndex.map { case (kp, j) =>
        col(s"_gr_a$kp").as(s"_gr_node$j") }: _*),
      nodeCols, "left_semi").isEmpty

    val result: DataFrame =
      if (hasDupChild || anchorAsChild) levelIterate(
        anchorDf, staticDf, levelLimit, rowLimit)
      else doubling(anchorDf, p, levelLimit, rowLimit)
    result.queryExecution.toRdd
  }

  /** ceil(log2)-round pointer doubling over the (unique-child, pure-root
    * -anchor) forest. Roots freeze naturally: a pointer at a node absent
    * from the parents relation finds no match and stops advancing.
    */
  private def doubling(anchorDf: DataFrame, p: DataFrame,
                       levelLimit: Int, rowLimit: Long): DataFrame = {
    val idx = plan.loopOutput.indices
    val nk = plan.keyPos.length
    var f = p.withColumn("_gr_hop", lit(1L)).localCheckpoint()
    val total = f.count()
    val maxRounds =
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, total))
    var moved = 1L
    var round = 0
    while (moved > 0 && round < maxRounds) {
      val b = f.select(
        (0 until nk).map(j => col(s"_gr_node$j").as(s"_gr_bn$j")) ++
        (0 until nk).map(j => col(s"_gr_anc$j").as(s"_gr_ba$j")) ++
        Seq(col("_gr_hop").as("_gr_bh")) ++
        plan.deltas.map { case (i, _, _) =>
          col(s"_gr_d$i").as(s"_gr_bd$i") }: _*)
      // hop is non-null on every real row: null = the left join missed
      val adv = col("_gr_bh").isNotNull
      val ptrEq = (0 until nk)
        .map(j => col(s"_gr_anc$j") === col(s"_gr_bn$j")).reduce(_ && _)
      val f2 = f.join(b, ptrEq, "left")
        .select(
          (0 until nk).map(j => col(s"_gr_node$j")) ++
          (0 until nk).map(j =>
            when(adv, col(s"_gr_ba$j")).otherwise(col(s"_gr_anc$j"))
              .as(s"_gr_anc$j")) ++
          Seq(
            when(adv, col("_gr_hop") + col("_gr_bh"))
              .otherwise(col("_gr_hop")).as("_gr_hop"),
            adv.cast("long").as("_gr_moved")) ++
          plan.deltas.map { case (i, _, k) =>
            when(adv, comb(k)(col(s"_gr_d$i"), col(s"_gr_bd$i")))
              .otherwise(col(s"_gr_d$i")).as(s"_gr_d$i") }: _*)
        .localCheckpoint()
      moved = Option(f2.agg(sum("_gr_moved")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      f = f2.drop("_gr_moved")
      round += 1
    }
    // descendants = nodes whose frozen pointer landed on an anchor key
    val anchorEq = plan.keyPos.zipWithIndex.map { case (kp, j) =>
      col(s"_gr_anc$j") === col(s"_gr_a$kp") }.reduce(_ && _)
    val joined = f.join(anchorDf, anchorEq).localCheckpoint()
    val stats = joined
      .agg(count(lit(1)), coalesce(max(col("_gr_hop")), lit(0L))).head()
    val derivedRows = stats.getLong(0)
    // boundary matches UnionLoop and levelIterate exactly: both throw
    // upon ENTERING level levelLimit+1 while the frontier is non-empty,
    // i.e. the moment any row sits at depth == levelLimit — so a
    // hierarchy the original rejects is rejected here too
    if (stats.getLong(1) >= levelLimit)
      throw new SparkException("graft recursion doubling: hierarchy depth " +
        s"${stats.getLong(1)} reaches spark.sql.cteRecursionLevelLimit=" +
        s"$levelLimit (the UnionLoop form would have failed here too)")
    val anchorRows = anchorDf.count()
    if (anchorRows + derivedRows > rowLimit)
      throw new SparkException("graft recursion doubling: " +
        s"${anchorRows + derivedRows} result rows exceed " +
        s"spark.sql.cteRecursionRowLimit=$rowLimit")
    val carrySet = plan.carries.toSet
    val kindOf = plan.deltas.map { case (i, _, k) => i -> k }.toMap
    val keyCompOf = plan.keyPos.zipWithIndex.toMap
    val outCols = idx.map { i =>
      if (keyCompOf.contains(i)) col(s"_gr_node${keyCompOf(i)}")
      else if (carrySet(i)) col(s"_gr_a$i") // constant along the path
      else comb(kindOf(i))(col(s"_gr_a$i"), col(s"_gr_d$i")).as(s"_gr_o$i")
    }
    anchorDf.select(idx.map(i => col(s"_gr_a$i")): _*)
      .unionAll(joined.select(outCols: _*))
  }

  /** Faithful level-at-a-time evaluation (what UnionLoop does) for the
    * inputs doubling cannot soundly cover: duplicate child keys (DAG
    * multiplicity) or anchors reachable as descendants (double rows).
    */
  private def levelIterate(anchorDf: DataFrame, staticDf: DataFrame,
                           levelLimit: Int, rowLimit: Long): DataFrame = {
    val idx = plan.loopOutput.indices
    val deltaOf = plan.deltas.map { case (i, e, k) => i -> ((e, k)) }.toMap
    val keyCompOf = plan.keyPos.zipWithIndex.toMap
    var frontier = anchorDf
      .toDF(idx.map(i => s"_gr_c$i"): _*).localCheckpoint()
    var total = frontier.count()
    val acc = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    var level = 0
    var cont = !frontier.isEmpty
    while (cont) {
      level += 1
      if (level > levelLimit)
        throw new SparkException("graft recursion fallback: exceeded " +
          s"spark.sql.cteRecursionLevelLimit=$levelLimit")
      val joinCond = plan.keyPos.zipWithIndex.map { case (kp, j) =>
        Shims.column(plan.parentKey(j)) === col(s"_gr_c$kp")
      }.reduce(_ && _)
      val next = staticDf
        .join(frontier, joinCond)
        .select(idx.map { i =>
          if (keyCompOf.contains(i))
            Shims.column(plan.childKey(keyCompOf(i))).as(s"_gr_c$i")
          else deltaOf.get(i) match {
            case Some((d, k)) =>
              comb(k)(col(s"_gr_c$i"), Shims.column(d)).as(s"_gr_c$i")
            case None => col(s"_gr_c$i") // carry-through
          }
        }: _*)
        .localCheckpoint()
      val n = next.count()
      total += n
      if (total > rowLimit)
        throw new SparkException("graft recursion fallback: exceeded " +
          s"spark.sql.cteRecursionRowLimit=$rowLimit")
      if (n == 0) cont = false
      else { acc += next; frontier = next }
    }
    acc.reduce(_ unionAll _)
  }
}
