package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampNTZType, TimestampType}

/** Native AS-OF join — the whole-operator Catalyst extension (SURVEY §7.2
  * preference (c): LogicalPlan + Strategy + SparkPlan, injected via
  * `SparkSessionExtensions`/`experimental.extraStrategies`).
  *
  * Spark has no as-of join; the composed form (q26: union both sides,
  * `last(value, ignoreNulls)` over a (key, time) window) carries every
  * right PAYLOAD column through the union and the window's sort buffer.
  * This operator instead merges the two sides in ONE forward pass per
  * partition: both children hash-partition on the key and sort by
  * (key, time) — the same exchange the window form pays — but the merge
  * keeps exactly ONE candidate right row in memory (no window buffer, no
  * union superset), and emits left rows joined to the latest right row
  * with `right.time <= left.time` (inclusive, LEFT-outer semantics:
  * unmatched left rows get nulls — DuckDB's `ASOF LEFT JOIN ... ON
  * l.key = r.key AND l.time >= r.time` exactly).
  *
  * Scope (documented, checked at construction): the key may be integral
  * or string (compared through the type's interpreted ordering — the
  * same ordering the sort exchange uses); the time must be
  * integral-backed (timestamp/date/int/long) so the hot loop compares
  * primitives.
  *
  * Null semantics (default, `nullsAsValues = false`) are SQL three-valued
  * comparison (Polars `join_asof` behavior): a left row whose key or time
  * is NULL never matches and is emitted null-extended; right rows with a
  * NULL key or time are skipped. (DuckDB's raw ASOF instead treats a NULL
  * time as +infinity — a NULLS LAST sort artifact — so the x38 gate's
  * oracle encodes the three-valued contract explicitly around the ASOF
  * join.)
  *
  * `nullsAsValues = true` instead treats NULL through the children's
  * nulls-FIRST sort order: a NULL key is an ordinary (smallest) key
  * value and a NULL time is -infinity. That is exactly the semantics of
  * the composed union+window form (`partitionBy` groups NULL keys
  * together; `orderBy ... ASC` sorts NULL times first), which is why the
  * [[AsofRewrite]] optimizer rule — a rewrite that must preserve
  * semantics on ALL inputs, nulls included — plans into this mode.
  */
case class AsofJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    rightValues: Seq[Attribute],
    nullsAsValues: Boolean = false,
    forward: Boolean = false,
    tolerance: Long = -1L,
    nearest: Boolean = false) extends BinaryNode {
  AsofJoin.requireKeyType(leftKey, rightKey)
  AsofJoin.requireIntegral(leftTime, rightTime)
  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): AsofJoinPlan = copy(left = l, right = r)
}

/** Planner rule: AsofJoinPlan → AsofJoinExec. */
object AsofStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, lt, rk, rt, rv, nav, fwd, tol, near) =>
      AsofJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, rv, nav, fwd, tol, near) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    rightValues: Seq[Attribute],
    nullsAsValues: Boolean = false,
    forward: Boolean = false,
    tolerance: Long = -1L,
    nearest: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))

  // EnsureRequirements co-partitions the children on the keys and sorts
  // each partition by (key, time) — identical exchanges to a sort-merge
  // join on the key
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)) ::
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) :: Nil
  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey: Expression, left.output)
    val lt = BindReferences.bindReference(leftTime: Expression, left.output)
    val rk = BindReferences.bindReference(rightKey: Expression, right.output)
    val rt = BindReferences.bindReference(rightTime: Expression, right.output)
    val rvSchema = rightValues
    val rOut = right.output
    val outSchema = output
    val leftOut = left.output
    val keyType = leftKey.dataType
    val nav = nullsAsValues
    val fwd = forward
    val tol = tolerance
    val near = nearest
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val valueProj = UnsafeProjection.create(rvSchema, rOut)
      // bind against NULLABLE-marked right values: binding against the
      // original non-null attrs would elide the null check and read 0/0.0
      // out of the all-null unmatched row
      val resultProj = UnsafeProjection.create(outSchema,
        leftOut ++ rvSchema.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rvSchema.length)
      val joined = new JoinedRow
      // interpreted ordering = the same ordering the sort exchange
      // applied, extended nulls-first to agree with SortOrder Ascending —
      // so the merge's key comparisons agree with the children's sort
      val baseOrd = TypeUtils.getInterpretedOrdering(keyType)
      val keyOrd: (Any, Any) => Int = (a, b) =>
        if (a == null) { if (b == null) 0 else -1 }
        else if (b == null) 1
        else baseOrd.compare(a, b)
      // nullsAsValues: NULL time = -infinity (nulls-first sort position)
      val timeOf: Any => Long = {
        case null => Long.MinValue
        case i: Int => i.toLong
        case x: Long => x
      }
      new Iterator[InternalRow] {
        // three-valued mode: right rows with a NULL key or time can never
        // match — skip them. (They sort first under the Ascending
        // nulls-first child ordering, so skipping preserves the merge
        // invariant.) nullsAsValues mode: they are ordinary rows.
        private def advanceRight(): InternalRow = {
          while (rIter.hasNext) {
            val r = rIter.next()
            if (nav || (rk.eval(r) != null && rt.eval(r) != null)) return r
          }
          null
        }
        private var rNext: InternalRow = advanceRight()
        private var candidate: InternalRow = null // copied; latest match
        private var candidateKey: Any = null      // copied (UTF8String reuse)
        private var candidateTime = 0L
        private var haveCandidate = false
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val key = lk.eval(l)
          val timeBoxed = lt.eval(l)
          if (!nav && (key == null || timeBoxed == null)) {
            // three-valued: a NULL key/time comparison is never true — the
            // left row is unmatched, emitted null-extended. No right
            // advance: null keys sort before all non-null keys.
            return resultProj(joined(l, nullRight))
          }
          val time = timeOf(timeBoxed)
          if (fwd) {
            // FORWARD: stop on the first right row at-or-after (key, time).
            // Skipped rows (earlier keys / earlier times) can't match any
            // later left row either — left times ascend — so no state at
            // all: rNext itself is the candidate, shared by every left row
            // it covers.
            while (rNext != null && {
              val c = keyOrd(rk.eval(rNext), key)
              c < 0 || (c == 0 && timeOf(rt.eval(rNext)) < time)
            }) rNext = advanceRight()
            val matched = rNext != null &&
              keyOrd(rk.eval(rNext), key) == 0 &&
              (tol < 0 || timeOf(rt.eval(rNext)) - time <= tol)
            // valueProj's buffer is consumed by resultProj immediately —
            // no copy needed
            return resultProj(joined(l,
              if (matched) valueProj(rNext) else nullRight))
          }
          // BACKWARD/NEAREST: advance through every row at-or-before
          // (key, time)
          while (rNext != null && {
            val c = keyOrd(rk.eval(rNext), key)
            c < 0 || (c == 0 && timeOf(rt.eval(rNext)) <= time)
          }) {
            if (keyOrd(rk.eval(rNext), key) == 0) {
              // latest-so-far for this key; .copy() — the child iterator
              // reuses its row buffer (and UTF8String keys point into it)
              candidate = valueProj(rNext).copy()
              candidateKey = InternalRow.copyValue(rk.eval(rNext))
              candidateTime = timeOf(rt.eval(rNext))
              haveCandidate = true
            }
            rNext = advanceRight()
          }
          if (near) {
            // NEAREST: the backward scan above leaves `candidate` = the
            // latest right row <= time and `rNext` = the FIRST row
            // strictly after (key, time) — exactly the forward candidate
            // when its key matches, and untouched here so it stays valid
            // for later left rows. A side farther than `tolerance` is no
            // candidate at all (candidates filter first, then the nearest
            // survivor wins); equal distances break BACKWARD — the
            // documented tie rule the oracle encodes. MaxValue sentinels
            // double as "no candidate" and guard the nullsAsValues
            // -infinity time from underflowing the subtraction.
            val distB =
              if (!haveCandidate || keyOrd(candidateKey, key) != 0 ||
                candidateTime == Long.MinValue) Long.MaxValue
              else time - candidateTime
            val fMatch = rNext != null && keyOrd(rk.eval(rNext), key) == 0
            val distF =
              if (!fMatch) Long.MaxValue
              else timeOf(rt.eval(rNext)) - time
            val validB = distB != Long.MaxValue && (tol < 0 || distB <= tol)
            val validF = distF != Long.MaxValue && (tol < 0 || distF <= tol)
            return resultProj(joined(l,
              if (validB && (!validF || distB <= distF)) candidate
              else if (validF) valueProj(rNext)
              else nullRight))
          }
          // tolerance: the candidate is the LATEST row <= time, so if IT
          // is out of tolerance no earlier row can be in — one check is
          // exact. (A -infinity candidate time — nullsAsValues — is an
          // infinite gap: never within a finite tolerance, and the
          // sentinel check avoids Long underflow in the subtraction.)
          val matched = haveCandidate && keyOrd(candidateKey, key) == 0 &&
            (tol < 0 ||
              (candidateTime != Long.MinValue && time - candidateTime <= tol))
          resultProj(joined(l, if (matched) candidate else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): AsofJoinExec = copy(left = l, right = r)
}

/** DataFrame-level API + strategy registration. */
object AsofJoin {
  private[plans] def requireIntegral(keys: Attribute*): Unit = keys.foreach { a =>
    require(Seq(LongType, IntegerType, TimestampType, TimestampNTZType,
      DateType).contains(a.dataType),
      s"asof join: ${a.name} must be integral-backed, got ${a.dataType}")
  }

  private[plans] def requireKeyType(l: Attribute, r: Attribute): Unit = {
    require(l.dataType == r.dataType,
      s"asof join: key types differ (${l.name}: ${l.dataType} vs ${r.name}: ${r.dataType})")
    require(Seq(LongType, IntegerType, TimestampType, TimestampNTZType,
      DateType, StringType).contains(l.dataType),
      s"asof join: key ${l.name} must be integral-backed or string, got ${l.dataType}")
  }

  /** Left as-of join: for each left row, the latest right row of the same
    * `key` with `right.time <= left.time` (nulls when none). `valueCols`
    * are the right columns carried into the output.
    *
    * `direction = "forward"` instead matches the EARLIEST right row with
    * `right.time >= left.time` (DuckDB `ASOF ... ON l.t <= r.t`, Polars
    * `strategy="forward"`). `direction = "nearest"` matches whichever of
    * the two is CLOSER in time (pandas merge_asof `direction='nearest'`),
    * ties breaking backward; with a tolerance, each side is filtered
    * first and the nearest survivor wins. `tolerance >= 0` bounds the
    * time gap in the time column's native units (microseconds for
    * timestamps, the raw value for ints/longs — pandas merge_asof's
    * `tolerance`): a match farther than `tolerance` nulls out instead.
    */
  def joinAsof(leftDf: DataFrame, rightDf: DataFrame,
               key: String, time: String,
               valueCols: Seq[String],
               direction: String = "backward",
               tolerance: Long = -1L): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asof join: direction must be backward|forward|nearest, got '$direction'")
    val spark = leftDf.sparkSession
    graft.GraftExtensions.install(spark)
    val lp = leftDf.queryExecution.analyzed
    val rp = rightDf.queryExecution.analyzed
    def att(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"asof join: no column '$name' in ${plan.output.map(_.name)}"))
    Shims.ofRows(spark, AsofJoinPlan(lp, rp,
      att(lp, key), att(lp, time), att(rp, key), att(rp, time),
      valueCols.map(att(rp, _)),
      forward = direction == "forward", tolerance = tolerance,
      nearest = direction == "nearest"))
  }
}
