package graft.queries

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational query corpus: every §2B/§2C capability of the reference
  * (SURVEY.md) re-expressed as a Spark plan with a DuckDB oracle.
  *
  * Determinism rules (driver hash-compares against DuckDB):
  *   - every result carries an ORDER BY / orderBy on a unique key prefix;
  *   - double aggregates are rounded (addition-order ulp noise);
  *   - integer sums are CAST(... AS BIGINT) in DuckDB (hugeint otherwise);
  *   - no raw event timestamps in output (parquet ns vs Spark µs).
  *
  * Scale notes are per query in comments: what shuffles, what broadcasts,
  * what pushes down.
  */
object RelationalQueries {
  import QueryDef.t

  /** Shared by q16 and q77: parse `id,status,...` lines with the
    * quote-aware kernel and aggregate per status (same oracle text too —
    * the two gates differ only in what the lines pass through first).
    */
  private def csvStatusAgg(lines: DataFrame): DataFrame =
    lines.select(
      GraftFunctions.csvColumnAt(col("line"), 0).cast("long").as("id"),
      GraftFunctions.csvColumnAt(col("line"), 1).as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("id_card"))
      .orderBy("status")

  private def statusOracle: String =
    """SELECT split_part(line, ',', 2) AS status, count(*) AS n,
      |  count(DISTINCT CAST(split_part(line, ',', 1) AS BIGINT)) AS id_card
      |FROM (SELECT concat_ws(',', o_orderkey, o_orderstatus, o_totalprice)
      |        AS line FROM orders)
      |GROUP BY 1 ORDER BY status""".stripMargin

  val all: Map[String, QueryDef] = Map(

    // ---- B7/§2C aggregation: TPC-H Q1 shape. One hash-agg shuffle over a
    // 6-group key; partial aggregation map-side; scan reads only 6 columns.
    "q1_agg" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_price,
             |  round(avg(l_discount), 6) AS avg_disc,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- §2C filter+projection: predicate and column pruning reach the
    // parquet scan (PushedFilters); no shuffle at all except the sort.
    "q2_filter_project" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             |FROM lineitem
             |WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.05
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- B7 distinct cardinalities (the reference's correctness invariant).
    "q3_distinct" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderstatus")).as("n_status"),
          count(lit(1)).as("n_rows")),
      Some("""SELECT count(DISTINCT o_custkey) AS n_cust,
             |  count(DISTINCT o_orderstatus) AS n_status,
             |  count(*) AS n_rows FROM orders""".stripMargin)),

    // ---- §2C top-k: TakeOrderedAndProject — no full sort, k rows per
    // partition reduced on the driver; scales to any input size.
    "q4_topk" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- §2C join (broadcast): part is the small dim → explicit broadcast;
    // no shuffle of the big fact side. At 100 TB lineitem this is the only
    // join shape that survives.
    "q5_join_broadcast" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("p_brand"),
      Some("""SELECT p_brand,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  count(*) AS n
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ---- §2C multi-way join: two broadcast dims chained.
    "q6_join_multi" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("n_customers"))
        .orderBy("r_name"),
      Some("""SELECT r_name, count(*) AS n_customers
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ---- §2C semi join (EXISTS).
    "q7_semi_join" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_with_orders")),
      Some("""SELECT count(*) AS n_with_orders FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders)""".stripMargin)),

    // ---- §2C anti join (NOT EXISTS).
    "q8_anti_join" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_without_orders")),
      Some("""SELECT count(*) AS n_without_orders FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin)),

    // ---- §2C window / ranking: one shuffle on the partition key.
    "q9_window_rank" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn <= 2
             |ORDER BY o_custkey, rn""".stripMargin)),

    // ---- §2C analytic window frame: running sum per user over event time.
    "q10_window_running" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("running_value", round(sum("value").over(w), 3))
          .select("event_id", "user_id", "running_value")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  round(sum(value) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3)
             |    AS running_value
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- §2C set ops: EXCEPT / INTERSECT cardinalities in one row.
    "q11_setops" -> QueryDef(
      (s, dir) => {
        val sold = t(s, dir, "lineitem").select(col("l_partkey").as("pk")).distinct()
        val big = t(s, dir, "part").filter(col("p_size") > 40)
          .select(col("p_partkey").as("pk"))
        val exceptN = sold.except(big).agg(count(lit(1)).as("c"))
        val intersectN = sold.intersect(big).agg(count(lit(1)).as("c"))
        val unionN = sold.union(big).distinct().agg(count(lit(1)).as("c"))
        exceptN.select(col("c").as("n_except"))
          .crossJoin(intersectN.select(col("c").as("n_intersect")))
          .crossJoin(unionN.select(col("c").as("n_union")))
      },
      Some("""SELECT
             |  (SELECT count(*) FROM (SELECT DISTINCT l_partkey FROM lineitem
             |     EXCEPT SELECT p_partkey FROM part WHERE p_size > 40)) AS n_except,
             |  (SELECT count(*) FROM (SELECT DISTINCT l_partkey FROM lineitem
             |     INTERSECT SELECT p_partkey FROM part WHERE p_size > 40)) AS n_intersect,
             |  (SELECT count(*) FROM (SELECT DISTINCT l_partkey FROM lineitem
             |     UNION SELECT p_partkey FROM part WHERE p_size > 40)) AS n_union""".stripMargin)),

    // ---- §2C rollup (grouping sets).
    "q12_rollup" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 1).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
             |  coalesce(l_linestatus, 'ALL') AS ls,
             |  round(sum(l_quantity), 1) AS sum_qty, count(*) AS n
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),

    // ---- §2C cube (all grouping sets over 2 dims; superset of rollup).
    "q29_cube" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"), col("total"))
        .orderBy("st", "prio"),
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS st,
             |  coalesce(o_orderpriority, 'ALL') AS prio,
             |  count(*) AS n, round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY st, prio""".stripMargin)),

    // ---- B8 conditional (case/when) over a numeric column.
    "q13_case" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .withColumn("bucket",
          when(col("value") < 10, "low")
            .when(col("value") < 100, "mid")
            .otherwise("high"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("bucket"),
      Some("""SELECT CASE WHEN value < 10 THEN 'low'
             |  WHEN value < 100 THEN 'mid' ELSE 'high' END AS bucket,
             |  count(*) AS n, round(sum(value), 2) AS total
             |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- B8 string functions: upper/length/contains.
    "q14_strings" -> QueryDef(
      (s, dir) => t(s, dir, "part")
        .filter(col("p_name").contains("e"))
        .select(col("p_brand"), upper(col("p_type")).as("type_u"),
          length(col("p_name")).as("name_len"))
        .groupBy("p_brand", "type_u", "name_len")
        .agg(count(lit(1)).as("n"))
        .orderBy("p_brand", "type_u", "name_len"),
      Some("""SELECT p_brand, upper(p_type) AS type_u,
             |  length(p_name) AS name_len, count(*) AS n
             |FROM part WHERE contains(p_name, 'e')
             |GROUP BY p_brand, upper(p_type), length(p_name)
             |ORDER BY p_brand, type_u, name_len""".stripMargin)),

    // ---- B5 split(col, sep)[i] + cast (the shard-count tracker shape).
    "q15_split_index" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .withColumn("prio_num", split(col("o_orderpriority"), "-").getItem(0).cast("int"))
        .groupBy("prio_num").agg(count(lit(1)).as("n"))
        .orderBy("prio_num"),
      Some("""SELECT CAST(split_part(o_orderpriority, '-', 1) AS INT) AS prio_num,
             |  count(*) AS n
             |FROM orders GROUP BY 1 ORDER BY prio_num""".stripMargin)),

    // ---- B7 parse_csv round-trip through the graft CSV dialect: serialize
    // rows as CSV lines, extract with csv_column_at (custom expression),
    // cast back, validate cardinality invariants.
    "q16_csv_roundtrip" -> QueryDef(
      (s, dir) => csvStatusAgg(t(s, dir, "orders").select(
        concat_ws(",", col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")).as("line"))),
      Some(statusOracle)),

    // ---- A5 again under Format=psv — the reference's intended test matrix
    // declares pipe-delimited input as a default dimension
    // (code/IntegrationTests/TestCaseConfiguration.cs:17-29); same
    // quote-aware kernel, delimiter parameterized. o_orderpriority ("1-URGENT")
    // proves the extraction is REALLY pipe-splitting: under the comma
    // dialect the whole line is one field and every cast would null out.
    "q71_psv_roundtrip" -> QueryDef(
      (s, dir) => {
        val lines = t(s, dir, "orders").select(
          concat_ws("|", col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")).as("line"))
        lines.select(
          GraftFunctions.csvColumnAt(col("line"), 0, '|').cast("long").as("id"),
          GraftFunctions.csvColumnAt(col("line"), 1, '|').as("priority"),
          GraftFunctions.csvFieldCount(col("line"), '|').as("nf"))
          .groupBy("priority")
          .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("id_card"),
            max(col("nf")).cast("long").as("max_fields"))
          .orderBy("priority")
      },
      Some("""SELECT split_part(line, '|', 2) AS priority, count(*) AS n,
             |  count(DISTINCT CAST(split_part(line, '|', 1) AS BIGINT)) AS id_card,
             |  max(len(string_split(line, '|'))) AS max_fields
             |FROM (SELECT concat_ws('|', o_orderkey, o_orderpriority, o_totalprice)
             |        AS line FROM orders)
             |GROUP BY 1 ORDER BY priority""".stripMargin)),

    // ---- A6 the reference partition hash itself, oracle'd bit-for-bit in
    // SQL (xor-fold % n re-expressed with list_reduce in DuckDB).
    "q17_xorfold" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .withColumn("pid",
          GraftFunctions.xorFoldHash(col("o_orderpriority"), 17, 8))
        .groupBy("pid").agg(count(lit(1)).as("n"))
        .orderBy("pid"),
      Some("""SELECT list_reduce(
             |    list_prepend(17, list_transform(range(1, length(o_orderpriority) + 1),
             |      i -> ord(o_orderpriority[i]))),
             |    (a, b) -> xor(a, b)) % 8 AS pid,
             |  count(*) AS n
             |FROM orders GROUP BY 1 ORDER BY pid""".stripMargin)),

    // ---- B1 JSON parse + nested access (todynamic ≈ get_json_object).
    "q18_json" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("k_decile", floor(col("k") / 10).cast("int"))
        .groupBy("k_decile")
        .agg(count(lit(1)).as("n"), max(col("k")).as("max_k"))
        .orderBy("k_decile"),
      Some("""SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS INT) / 10) AS INT)
             |    AS k_decile,
             |  count(*) AS n, max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
             |FROM events GROUP BY 1 ORDER BY k_decile""".stripMargin)),

    // ---- B7/B8 date functions: month truncation.
    "q19_date" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .withColumn("month", date_trunc("month", col("o_orderdate")).cast("date"))
        .groupBy("month")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("month"),
      Some("""SELECT date_trunc('month', o_orderdate) AS month,
             |  count(*) AS n, round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)),

    // ---- A8 time-windowed grouping (the 1-min flush window, batch form):
    // tumbling 1-hour windows over event time.
    "q20_time_window" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("ws", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS ws, event_type,
             |  count(*) AS n, round(sum(value), 2) AS total
             |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    // ---- B1/B8 mv-expand ≈ explode.
    "q21_explode" -> QueryDef(
      (s, dir) => t(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy("word"),
      Some("""SELECT word, count(*) AS n
             |FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
             |GROUP BY word ORDER BY word""".stripMargin)),

    // ---- B8 make_list ≈ collect_list (sorted + joined for determinism).
    "q22_collect_list" -> QueryDef(
      (s, dir) => t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(array_join(sort_array(collect_list(col("s_name"))), ";").as("suppliers"),
          count(lit(1)).as("n"))
        .orderBy("n_name"),
      Some("""SELECT n_name,
             |  array_to_string(list_sort(list(s_name)), ';') AS suppliers,
             |  count(*) AS n
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ---- B7 toscalar / print: scalar subqueries into a single literal row.
    "q23_scalar_subquery" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"),
          max(col("o_totalprice")).as("max_price"))
      },
      Some("""SELECT (SELECT count(*) FROM orders) AS n_orders,
             |  (SELECT count(DISTINCT o_custkey) FROM orders) AS n_custs,
             |  (SELECT max(o_totalprice) FROM orders) AS max_price""".stripMargin)),

    // ---- B8 range row generator (the GenerateLogData backbone).
    "q24_range" -> QueryDef(
      (s, dir) => s.range(1, 10001).toDF("id")
        .withColumn("g", pmod(col("id"), lit(7)))
        .groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
        .orderBy("g"),
      Some("""SELECT id % 7 AS g, count(*) AS n, CAST(sum(id) AS BIGINT) AS s
             |FROM range(1, 10001) t(id) GROUP BY 1 ORDER BY g""".stripMargin)),

    // ---- B5 take_any parity (deterministic witness: min).
    "q25_take_any" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(min(col("props")).as("any_props"), count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("""SELECT event_type, min(props) AS any_props, count(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- as-of join (time-series point lookup): each event matched to the
    // latest order of the same customer at-or-before the event time. Spark
    // lacks a native as-of join; the scalable shape is union + last(...,
    // ignoreNulls) over a (key, time) window — ONE shuffle on the key, no
    // per-event range probe. Orders are pre-deduped per (key, time) so the
    // match is deterministic in both engines.
    "q26_asof_join" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .groupBy(col("o_custkey").as("key"), col("o_orderdate").as("at"))
          .agg(max("o_totalprice").as("o_price"))
          .select(col("key"), col("at"), col("o_price"),
            lit(0).as("is_evt"), lit(null).cast("long").as("event_id"))
        val e = t(s, dir, "events")
          .select(col("user_id").as("key"), col("ts").as("at"),
            lit(null).cast("double").as("o_price"),
            lit(1).as("is_evt"), col("event_id"))
        // at equal time the order row (is_evt=0) sorts first → inclusive >=
        val w = Window.partitionBy("key")
          .orderBy(col("at"), col("is_evt"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        o.unionByName(e)
          .withColumn("asof_price", last(col("o_price"), ignoreNulls = true).over(w))
          .filter(col("is_evt") === 1)
          .groupBy(col("key").as("user_id"))
          .agg(count(lit(1)).as("n_events"),
            count(col("asof_price")).as("n_matched"),
            round(sum("asof_price"), 2).as("matched_total"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  count(o_price) AS n_matched,
             |  round(sum(o_price), 2) AS matched_total
             |FROM events e ASOF LEFT JOIN
             |  (SELECT o_custkey, o_orderdate, max(o_totalprice) AS o_price
             |   FROM orders GROUP BY 1, 2) o
             |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- the SAME as-of semantics through the NATIVE operator
    // (plans.AsofJoinPlan -> AsofStrategy -> AsofJoinExec): one forward
    // merge per co-partitioned (key, time)-sorted partition, one
    // candidate row of state — no union superset, no window sort buffer
    // carrying payloads. Gated against the identical DuckDB ASOF oracle
    // as q26, so the custom physical operator is hash-proven equal to
    // both the composed form and the reference engine.
    "x34_asof_native" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .groupBy(col("o_custkey").as("key"), col("o_orderdate").as("at"))
          .agg(max("o_totalprice").as("o_price"))
        val e = t(s, dir, "events")
          .select(col("user_id").as("key"), col("ts").as("at"),
            col("event_id"))
        graft.plans.AsofJoin
          .joinAsof(e, o, key = "key", time = "at", valueCols = Seq("o_price"))
          .groupBy(col("key").as("user_id"))
          .agg(count(lit(1)).as("n_events"),
            count(col("o_price")).as("n_matched"),
            round(sum("o_price"), 2).as("matched_total"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  count(o_price) AS n_matched,
             |  round(sum(o_price), 2) AS matched_total
             |FROM events e ASOF LEFT JOIN
             |  (SELECT o_custkey, o_orderdate, max(o_totalprice) AS o_price
             |   FROM orders GROUP BY 1, 2) o
             |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- native as-of join NULL semantics: both sides get deterministic
    // null pokes (left key/time, right key/time). The operator's contract
    // is SQL three-valued comparison (Polars join_asof semantics): a NULL
    // key or time never matches — null-poked left rows emit null-extended,
    // null-poked right rows are skipped, nothing crashes. DuckDB's raw
    // ASOF instead treats NULL time as +infinity (a NULLS LAST sort
    // artifact), so the oracle encodes the three-valued contract
    // explicitly: null right rows filtered, null left rows routed around
    // the ASOF join unmatched. Same merge shape as x34: two key
    // exchanges, one candidate row of state.
    "x38_asof_nulls" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(
            when(col("o_custkey") % 13 === 0, lit(null))
              .otherwise(col("o_custkey")).as("key"),
            when(col("o_orderkey") % 17 === 0, lit(null).cast("timestamp"))
              .otherwise(col("o_orderdate")).as("at"),
            col("o_totalprice"))
          .groupBy("key", "at")
          .agg(max("o_totalprice").as("o_price"))
        val e = t(s, dir, "events")
          .select(
            when(col("user_id") % 7 === 0, lit(null))
              .otherwise(col("user_id")).as("key"),
            when(col("event_id") % 11 === 0, lit(null).cast("timestamp"))
              .otherwise(col("ts")).as("at"),
            col("event_id"))
        graft.plans.AsofJoin
          .joinAsof(e, o, key = "key", time = "at", valueCols = Seq("o_price"))
          .groupBy(col("key").as("user_id"))
          .agg(count(lit(1)).as("n_events"),
            count(col("o_price")).as("n_matched"),
            round(sum("o_price"), 2).as("matched_total"))
          .orderBy(col("user_id").asc_nulls_first)
      },
      Some("""WITH e AS (
             |  SELECT event_id,
             |    CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS key,
             |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE ts END AS at
             |  FROM events),
             |o AS (
             |  SELECT CASE WHEN o_custkey % 13 = 0 THEN NULL ELSE o_custkey END AS key,
             |         CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE o_orderdate END AS at,
             |         max(o_totalprice) AS o_price
             |  FROM orders GROUP BY 1, 2
             |  HAVING key IS NOT NULL AND at IS NOT NULL),
             |j AS (
             |  SELECT e.key, o.o_price
             |  FROM e ASOF LEFT JOIN o ON e.key = o.key AND e.at >= o.at
             |  WHERE e.key IS NOT NULL AND e.at IS NOT NULL
             |  UNION ALL
             |  SELECT key, NULL AS o_price FROM e WHERE key IS NULL OR at IS NULL)
             |SELECT key AS user_id, count(*) AS n_events,
             |  count(o_price) AS n_matched,
             |  round(sum(o_price), 2) AS matched_total
             |FROM j GROUP BY 1 ORDER BY user_id NULLS FIRST""".stripMargin)),

    // ---- native as-of join on a STRING key (the reference's Node /
    // ActivityId shapes are string-keyed): the merge compares keys through
    // the type's interpreted ordering — the same ordering the sort
    // exchange used — so the plan is unchanged (two key exchanges, no
    // extra sort) and only the comparison goes through UTF8String.
    "x40_asof_strkey" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .groupBy(concat(lit("u"), col("o_custkey").cast("string")).as("key"),
            col("o_orderdate").as("at"))
          .agg(max("o_totalprice").as("o_price"))
        val e = t(s, dir, "events")
          .select(concat(lit("u"), col("user_id").cast("string")).as("key"),
            col("ts").as("at"), col("event_id"))
        graft.plans.AsofJoin
          .joinAsof(e, o, key = "key", time = "at", valueCols = Seq("o_price"))
          .groupBy(col("key").as("user_key"))
          .agg(count(lit(1)).as("n_events"),
            count(col("o_price")).as("n_matched"),
            round(sum("o_price"), 2).as("matched_total"))
          .orderBy("user_key")
      },
      Some("""WITH e AS (
             |  SELECT event_id, 'u' || CAST(user_id AS VARCHAR) AS key, ts AS at
             |  FROM events),
             |o AS (
             |  SELECT 'u' || CAST(o_custkey AS VARCHAR) AS key, o_orderdate AS at,
             |         max(o_totalprice) AS o_price
             |  FROM orders GROUP BY 1, 2)
             |SELECT e.key AS user_key, count(*) AS n_events,
             |  count(o_price) AS n_matched,
             |  round(sum(o_price), 2) AS matched_total
             |FROM e ASOF LEFT JOIN o ON e.key = o.key AND e.at >= o.at
             |GROUP BY 1 ORDER BY user_key""".stripMargin)),

    // ---- FORWARD as-of join (Polars strategy=forward; DuckDB ASOF with
    // l.t <= r.t): for each click, the user's EARLIEST purchase at-or-
    // after it — the attribution shape ("next conversion after the
    // impression"). The forward merge is stateless: right rows skipped
    // for one left row can never match a later (larger-time) left row,
    // and the current right row is shared by every left row it covers.
    "x42_asof_forward" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val l = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("key"), col("ts").as("at"), col("event_id"))
        val r = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("key"), col("ts").as("at"))
          .agg(max("value").as("conv_value"))
        graft.plans.AsofJoin
          .joinAsof(l, r, key = "key", time = "at",
            valueCols = Seq("conv_value"), direction = "forward")
          .groupBy(col("key").as("user_id"))
          .agg(count(lit(1)).as("n_clicks"),
            count(col("conv_value")).as("n_converted"),
            round(sum("conv_value"), 2).as("conv_total"))
          .orderBy("user_id")
      },
      Some("""WITH l AS (
             |  SELECT user_id, ts, event_id FROM events
             |  WHERE event_type = 'click'),
             |r AS (
             |  SELECT user_id AS r_uid, ts AS r_ts, max(value) AS conv_value
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
             |SELECT l.user_id, count(*) AS n_clicks,
             |  count(conv_value) AS n_converted,
             |  round(sum(conv_value), 2) AS conv_total
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.r_uid AND l.ts <= r.r_ts
             |GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // Native as-of join, NEAREST direction: each click attributes to the
    // purchase event CLOSEST in time either way (pandas merge_asof
    // direction='nearest'; ties break backward). The engine does it in
    // the one-pass merge (AsofJoinExec keeps the backward candidate AND
    // peeks the forward head — no second exchange); the oracle has no
    // nearest ASOF, so it runs DuckDB's backward and forward ASOF joins
    // and CASE-picks the closer side with the same tie rule.
    "x60_asof_nearest" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val l = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("key"), col("ts").as("at"), col("event_id"))
        val r = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("key"), col("ts").as("at"))
          .agg(max("value").as("conv_value"))
        graft.plans.AsofJoin
          .joinAsof(l, r, key = "key", time = "at",
            valueCols = Seq("conv_value"), direction = "nearest")
          .groupBy(col("key").as("user_id"))
          .agg(count(lit(1)).as("n_clicks"),
            count(col("conv_value")).as("n_matched"),
            round(sum("conv_value"), 2).as("conv_total"))
          .orderBy("user_id")
      },
      Some("""WITH l AS (
             |  SELECT user_id, ts, event_id FROM events
             |  WHERE event_type = 'click'),
             |r AS (
             |  SELECT user_id AS b_uid, ts AS b_ts, max(value) AS b_val
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |r2 AS (
             |  SELECT user_id AS f_uid, ts AS f_ts, max(value) AS f_val
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |m AS (
             |  SELECT l.user_id, l.ts, l.event_id, b_ts, b_val, f_ts, f_val
             |  FROM l
             |  ASOF LEFT JOIN r ON l.user_id = r.b_uid AND l.ts >= r.b_ts
             |  ASOF LEFT JOIN r2 ON l.user_id = r2.f_uid AND l.ts <= r2.f_ts),
             |pick AS (
             |  SELECT user_id, event_id,
             |    CASE
             |      WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR
             |        epoch_us(ts) - epoch_us(b_ts)
             |          <= epoch_us(f_ts) - epoch_us(ts))
             |        THEN b_val
             |      WHEN f_ts IS NOT NULL THEN f_val
             |      ELSE NULL END AS conv_value
             |  FROM m)
             |SELECT user_id, count(*) AS n_clicks,
             |  count(conv_value) AS n_matched,
             |  round(sum(conv_value), 2) AS conv_total
             |FROM pick GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ---- as-of join with TOLERANCE (pandas merge_asof tolerance): the
    // latest purchase at-or-before each click counts only within a
    // 1-hour window — time-bounded attribution. One gap check on the
    // merge's single candidate is exact: the candidate is the LATEST
    // row <= t, so if it is out of tolerance no earlier row can be in.
    // The oracle post-filters DuckDB's unbounded ASOF the same way.
    "x43_asof_tolerance" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val l = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("key"), col("ts").as("at"), col("event_id"))
        val r = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("key"), col("ts").as("at"))
          .agg(max("value").as("conv_value"))
        graft.plans.AsofJoin
          .joinAsof(l, r, key = "key", time = "at",
            valueCols = Seq("conv_value"), tolerance = 3600L * 1000000L)
          .groupBy(col("key").as("user_id"))
          .agg(count(lit(1)).as("n_clicks"),
            count(col("conv_value")).as("n_attributed"),
            round(sum("conv_value"), 2).as("attr_total"))
          .orderBy("user_id")
      },
      Some("""WITH l AS (
             |  SELECT user_id, ts, event_id FROM events
             |  WHERE event_type = 'click'),
             |r AS (
             |  SELECT user_id AS r_uid, ts AS r_ts, max(value) AS conv_value
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |j AS (
             |  SELECT l.user_id,
             |    CASE WHEN epoch_us(l.ts) - epoch_us(r.r_ts) <= 3600000000
             |         THEN r.conv_value END AS conv_value
             |  FROM l ASOF LEFT JOIN r ON l.user_id = r.r_uid AND l.ts >= r.r_ts)
             |SELECT user_id, count(*) AS n_clicks,
             |  count(conv_value) AS n_attributed,
             |  round(sum(conv_value), 2) AS attr_total
             |FROM j GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ---- sessionization: gap > 1 hour starts a new session (lag + flag +
    // per-user counts). One shuffle on user_id; the window and the group-by
    // share the partitioning, so Catalyst plans a single exchange.
    "q27_sessionize" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 3600, 1)
              .otherwise(0))
          .groupBy("user_id")
          .agg(sum("new_sess").cast("long").as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |  CAST(sum(new_sess) AS BIGINT) AS n_sessions,
             |  count(*) AS n_events
             |FROM (SELECT user_id,
             |    CASE WHEN prev_ts IS NULL
             |      OR date_diff('second', prev_ts, ts) > 3600 THEN 1 ELSE 0 END AS new_sess
             |  FROM (SELECT user_id, ts,
             |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |    FROM events))
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- pivot (conditional aggregation): explicit value list keeps the
    // plan a single hash-agg (no extra distinct pass to discover values).
    "q28_pivot" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy("user_id"),
      Some("""SELECT user_id,
             |  count(*) FILTER (WHERE event_type = 'click') AS click,
             |  count(*) FILTER (WHERE event_type = 'error') AS error,
             |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
             |  count(*) FILTER (WHERE event_type = 'view') AS view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- range join (interval containment, no equi-key): tiny interval
    // side broadcast → BroadcastNestedLoop with a range predicate, the
    // right plan when one side fits in memory. Large-large range joins
    // bin-bucket both sides into an equi-join on overlapping bins (for
    // uniform bins that mapping degenerates to floor(x/width) — same
    // result, zero NL).
    "q31_range_join" -> QueryDef(
      (s, dir) => {
        val buckets = s.range(0, 10).select(
          col("id").cast("int").as("bucket"),
          (col("id") * 500.0).as("lo"),
          ((col("id") + 1) * 500.0).as("hi"))
        t(s, dir, "part")
          .join(broadcast(buckets),
            col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), round(avg("p_retailprice"), 2).as("avg_price"))
          .orderBy("bucket")
      },
      Some("""SELECT bucket, count(*) AS n,
             |  round(avg(p_retailprice), 2) AS avg_price
             |FROM part JOIN (SELECT CAST(i AS INT) AS bucket, i*500.0 AS lo,
             |    (i+1)*500.0 AS hi FROM range(0, 10) t(i)) b
             |  ON p_retailprice >= lo AND p_retailprice < hi
             |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ---- lead/ntile analytics: inter-order gap days and price quartile
    // per customer — one shuffle on the partition key, aggregated per
    // quartile so the output stays small at any scale.
    // Global ntile(4) is computed WITHOUT a single-partition sort (the r1
    // scale-killer): range-partition on the sort key, rank locally, then
    // add each partition's cumulative predecessor count — the driver holds
    // P counts (bounded by partition count, never by data) and the ntile
    // bucket is a narrow arithmetic map over (global_rank, N).
    "q32_lead_ntile" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        val base = t(s, dir, "orders")
          .withColumn("next_date", lead(col("o_orderdate"), 1).over(w))
          .withColumn("gap_days",
            datediff(col("next_date").cast("date"), col("o_orderdate").cast("date")))
          .select("o_orderkey", "o_totalprice", "gap_days")
        // two-phase global ntile — factored into Ranking.globalNtile
        // (range partition + local rank + P broadcast offsets)
        graft.operators.Ranking
          .globalNtile(base,
            Seq(col("o_totalprice").desc, col("o_orderkey")), 4, "quartile")
          .withColumn("quartile", col("quartile").cast("int"))
          .groupBy("quartile")
          .agg(count(lit(1)).as("n"),
            round(avg("gap_days"), 4).as("avg_gap_days"),
            round(sum("o_totalprice"), 2).as("total"))
          .orderBy("quartile")
      },
      Some("""SELECT quartile, count(*) AS n,
             |  round(avg(gap_days), 4) AS avg_gap_days,
             |  round(sum(o_totalprice), 2) AS total
             |FROM (SELECT o_totalprice,
             |    datediff('day', CAST(o_orderdate AS DATE),
             |      CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
             |        ORDER BY o_orderdate, o_orderkey) AS DATE)) AS gap_days,
             |    ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS quartile
             |  FROM orders)
             |GROUP BY quartile ORDER BY quartile""".stripMargin)),

    // ---- exact percentiles (interpolating): the exact counterpart of
    // x8's approx sketches. One agg shuffle; percentile buffers are
    // per-group sorted arrays — for skewed hot groups see Skew.saltedAgg.
    "q30_median" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(round(median(col("value")), 6).as("p50"),
          round(percentile(col("value"), lit(0.9)), 6).as("p90"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  round(median(value), 6) AS p50,
             |  round(quantile_cont(value, 0.9), 6) AS p90,
             |  count(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- B1 the partitioning-policy metadata pipeline over the fixture
    // JSON (FIXTURES.md §7): from_json → explode → filter Kind=Hash →
    // project casts. The engine's "metadata plane" query shape.
    "m1_policy" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.types._
        val policyJson =
          """{"PartitionKeys": [
            |  {"ColumnName": "Node", "Kind": "Hash",
            |   "Properties": {"MaxPartitionCount": 8, "Seed": 17}},
            |  {"ColumnName": "Timestamp", "Kind": "UniformRange", "Properties": {}}
            |]}""".stripMargin
        val schema = StructType(Seq(StructField("PartitionKeys", ArrayType(
          StructType(Seq(
            StructField("ColumnName", StringType),
            StructField("Kind", StringType),
            StructField("Properties", StructType(Seq(
              StructField("MaxPartitionCount", IntegerType),
              StructField("Seed", IntegerType))))))))))
        s.range(1).select(lit(policyJson).as("policy"))
          .select(from_json(col("policy"), schema).as("p"))
          .select(explode(col("p.PartitionKeys")).as("k"))
          .filter(col("k.Kind") === "Hash")
          .select(col("k.ColumnName").as("column_name"),
            col("k.Properties.MaxPartitionCount").as("max_partition_count"),
            col("k.Properties.Seed").as("seed"))
      },
      Some("""SELECT json_extract_string(k, '$.ColumnName') AS column_name,
             |  CAST(json_extract(k, '$.Properties.MaxPartitionCount') AS INT) AS max_partition_count,
             |  CAST(json_extract(k, '$.Properties.Seed') AS INT) AS seed
             |FROM (SELECT unnest(CAST(json_extract('{"PartitionKeys": [ {"ColumnName": "Node", "Kind": "Hash", "Properties": {"MaxPartitionCount": 8, "Seed": 17}}, {"ColumnName": "Timestamp", "Kind": "UniformRange", "Properties": {}} ]}', '$.PartitionKeys') AS JSON[])) AS k)
             |WHERE json_extract_string(k, '$.Kind') = 'Hash'""".stripMargin)),

    // ---- B3/B4 the ingestion-resources metadata pipeline (reference
    // RunningContext.cs:141-149): resources doc → explode → TempStorage
    // rows = the staging containers the round-robin sink spreads over.
    "m2_resources" -> QueryDef(
      (s, _) => graft.plans.Resources.stagingContainers(
        s, graft.plans.Resources.fixtureJson),
      Some("""SELECT json_extract_string(r, '$.ResourceTypeName') AS resource_type,
             |  json_extract_string(r, '$.StorageRoot') AS storage_root
             |FROM (SELECT unnest(CAST(json_extract('{"Resources": [ {"ResourceTypeName": "TempStorage", "StorageRoot": "https://acct0.blob.example/ingest-staging-0"}, {"ResourceTypeName": "TempStorage", "StorageRoot": "https://acct1.blob.example/ingest-staging-1"}, {"ResourceTypeName": "TempStorage", "StorageRoot": "https://acct2.blob.example/ingest-staging-2"}, {"ResourceTypeName": "SecuredReadyForAggregationQueue", "StorageRoot": "https://acct0.queue.example/ready-0"}, {"ResourceTypeName": "FailedIngestionsQueue", "StorageRoot": "https://acct0.queue.example/failed-0"} ], "QueryServiceUri": "https://engine.example/v1/query"}', '$.Resources') AS JSON[])) AS r)
             |WHERE json_extract_string(r, '$.ResourceTypeName') = 'TempStorage'
             |ORDER BY storage_root""".stripMargin)),

    // ---- funnel analysis: how deep each user gets through the ordered
    // view -> click -> purchase chain, judged on FIRST occurrences (a
    // stage counts only if its first event is strictly after the previous
    // stage's first event). One agg shuffle on user_id (conditional mins
    // are partial-aggregable), then a 4-row depth histogram — the product
    // analytics staple over the events table.
    "q33_funnel" -> QueryDef(
      (s, dir) => {
        val stages = t(s, dir, "events").groupBy("user_id").agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        stages
          .withColumn("depth",
            when(col("t_view").isNull, 0)
              .when(col("t_click").isNull || col("t_click") <= col("t_view"), 1)
              .when(col("t_purchase").isNull ||
                col("t_purchase") <= col("t_click"), 2)
              .otherwise(3))
          .groupBy("depth").agg(count(lit(1)).as("n_users"))
          .orderBy("depth")
      },
      Some("""WITH s AS (
             |  SELECT user_id,
             |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
             |  FROM events GROUP BY user_id)
             |SELECT depth, count(*) AS n_users FROM (
             |  SELECT CASE
             |    WHEN t_view IS NULL THEN 0
             |    WHEN t_click IS NULL OR t_click <= t_view THEN 1
             |    WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 2
             |    ELSE 3 END AS depth
             |  FROM s) GROUP BY depth ORDER BY depth""".stripMargin)),

    // ---- cohort retention: users grouped by first-seen week, distinct
    // active users per (cohort, week) — the retention-matrix staple. Two
    // shuffles: the first-seen agg on user_id, then the cohort join (the
    // cohort side is one row per user — at 100 TB it shuffle-joins on
    // user_id and the matrix agg is partial-aggregable).
    "q34_cohort" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        val first = ev.groupBy("user_id").agg(min("week").as("cohort"))
        ev.join(first, "user_id")
          .groupBy("cohort", "week")
          .agg(countDistinct("user_id").as("n_active"))
          .orderBy("cohort", "week")
      },
      Some("""WITH e AS (
             |  SELECT user_id, date_trunc('week', ts) AS week FROM events),
             |f AS (SELECT user_id, min(week) AS cohort FROM e GROUP BY user_id)
             |SELECT cohort, week, count(DISTINCT e.user_id) AS n_active
             |FROM e JOIN f USING (user_id)
             |GROUP BY cohort, week ORDER BY cohort, week""".stripMargin)),

    // ---- trailing-7-day rolling revenue: a RANGE frame over event-time
    // seconds (q9/q10 cover ROW frames; this is the time-based frame, which
    // unlike a 7-row frame is correct across gap days). The window runs
    // over the POST-AGG daily frame — one row per day, bounded by calendar
    // span, never data (same discipline as d16's per-language window);
    // daily revenue is rounded BEFORE the rolling sum so both engines sum
    // identical 4dp values.
    "q35_rolling_revenue" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(round(sum("value"), 4).as("rev"))
        val w = Window.orderBy(col("day").cast("long"))
          .rangeBetween(-6L * 86400L, 0L)
        daily
          .withColumn("rev_7d", round(sum("rev").over(w), 4))
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT date_trunc('day', ts) AS day, round(sum(value), 4) AS rev
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
             |SELECT day, rev,
             |  round(sum(rev) OVER (ORDER BY day
             |    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW), 4)
             |    AS rev_7d
             |FROM daily ORDER BY day""".stripMargin)),

    // ---- TPC-H Q3 shape (shipping-priority top orders; o_orderpriority
    // stands in for the schema's missing o_shippriority): selective dim
    // filter -> fact join -> grouped revenue -> top-k. Revenue accumulates
    // in integer CENTS (per-row round, exact BIGINT sum) — a double sum's
    // ordering differs between engines and 4dp rounding can't absorb it at
    // 1e7 magnitudes. customer is broadcast (dim); lineitem-orders is the
    // one real shuffle; top-k is TakeOrdered, never a global sort.
    "q36_tpch_q3" -> QueryDef(
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01"))
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1998-01-01"))
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long")).as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("o_orderdate"),
            col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |    AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |  AND l_shipdate > TIMESTAMP '1998-01-01'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue_cents DESC, o_orderdate, l_orderkey
             |LIMIT 10""".stripMargin)),

    // ---- TPC-H Q5 shape (local-supplier volume per nation): the 6-table
    // snowflake join. region/nation/customer/supplier broadcast (dims);
    // the lineitem-orders fact join is the one big shuffle; the local-
    // supplier constraint (customer and supplier in the same nation) lands
    // as a join predicate. Integer-cents revenue, as q36.
    "q37_tpch_q5" -> QueryDef(
      (s, dir) => {
        val nat = t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
        val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
          .select("o_orderkey", "o_custkey")
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long")).as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |    AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |  AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY n_name ORDER BY revenue_cents DESC, n_name""".stripMargin)),

    // ---- TPC-H Q18 (large-volume orders): the IN-subquery-on-aggregate
    // shape — find orders whose total quantity exceeds 300, join back to
    // customer + lineitem for the report. Spark plan: the HAVING subquery
    // is one partial-agg shuffle on l_orderkey whose survivors are
    // benchmark-tiny -> broadcast semi-join back onto lineitem (no second
    // big shuffle); quantities are whole-number doubles so the cast-long
    // sums are integer-exact in both engines. AQE picks the broadcast
    // from the runtime size of the filtered agg at any SF.
    "q38_tpch_q18" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val big = li.groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
          .filter(col("total_qty") > 300)
        val ord = t(s, dir, "orders")
        val cust = t(s, dir, "customer").select("c_custkey", "c_name")
        ord.join(big, ord("o_orderkey") === big("l_orderkey"))
          .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"),
            round(col("o_totalprice") * 100).cast("long")
              .as("totalprice_cents"),
            col("total_qty"))
          .orderBy(col("totalprice_cents").desc, col("o_orderdate"),
            col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
             |  total_qty
             |FROM orders
             |JOIN (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT)
             |        AS total_qty
             |      FROM lineitem GROUP BY l_orderkey
             |      HAVING CAST(sum(l_quantity) AS BIGINT) > 300) big
             |  ON o_orderkey = big.l_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY totalprice_cents DESC, o_orderdate, o_orderkey
             |LIMIT 100""".stripMargin)),

    // ---- TPC-H Q17 (small-quantity-order revenue): the CORRELATED
    // scalar-subquery shape — each lineitem compares against its part's
    // average quantity. Spark decorrelates by hand: one per-part agg,
    // joined back on l_partkey (AQE broadcasts the part-avg side when it
    // fits; at 100 TB it's a plain shuffle join on the uniform part key).
    // Numeric parity note: quantities are whole-number doubles, so their
    // sums are EXACT in IEEE double in any summation order — avg and the
    // 0.2x threshold are bit-identical across engines by construction.
    "q39_tpch_q17" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val partAvg = li.groupBy(col("l_partkey").as("p_key"))
          .agg(avg(col("l_quantity")).as("avg_qty"))
        li.join(partAvg, col("l_partkey") === col("p_key"))
          .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
          .agg(count(lit(1)).as("n_small"),
            // `div`, not `/`: the long sum must divide integrally (the
            // double path could round across an integer boundary and
            // disagree with DuckDB's `//` floor by one)
            expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) div 700")
              .as("avg_yearly_cents"))
      },
      Some("""WITH pa AS (
             |  SELECT l_partkey AS p_key, avg(l_quantity) AS avg_qty
             |  FROM lineitem GROUP BY l_partkey)
             |SELECT count(*) AS n_small,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) // 700
             |    AS BIGINT) AS avg_yearly_cents
             |FROM lineitem JOIN pa ON l_partkey = p_key
             |WHERE l_quantity < 0.2 * avg_qty""".stripMargin)),

    // ---- TPC-H Q21 (suppliers who kept orders waiting): the hardest
    // relational shape in the suite — a correlated EXISTS plus a
    // correlated NOT EXISTS against the same fact table. Decorrelated
    // into ONE per-order aggregate: an order qualifies a late row of
    // supplier s iff it has >= 2 distinct suppliers and exactly one
    // distinct LATE supplier (which is then necessarily s, since the
    // row itself is late). One agg shuffle on l_orderkey + one join
    // back to the late rows on the same key (co-partitioned — AQE
    // reuses the exchange side) + a broadcast supplier dim. The oracle
    // runs the literal double-EXISTS form, so the gate proves the
    // decorrelation equivalent.
    "q40_tpch_q21" -> QueryDef(
      (s, dir) => {
        val ordF = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate")
        // materialized once (GC-scoped): the fact join feeds BOTH the
        // per-order aggregate and the late-row side — without this the
        // lineitem⋈orders subtree is executed twice (verified in the
        // formatted plan: two independent scans + broadcast joins)
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(ordF, col("l_orderkey") === col("o_orderkey"))
          .withColumn("late", col("l_shipdate") > col("o_orderdate"))
          .localCheckpoint()
        val perOrder = li.groupBy(col("l_orderkey").as("g_orderkey"))
          .agg(countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
        val sup = t(s, dir, "supplier").select("s_suppkey", "s_name")
        li.filter(col("late"))
          .join(perOrder, col("l_orderkey") === col("g_orderkey"))
          .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name").agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""SELECT s_name, count(*) AS numwait FROM supplier
             |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
             |JOIN orders ON o_orderkey = l1.l_orderkey
             |WHERE o_orderstatus = 'F'
             |  AND l1.l_shipdate > o_orderdate
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey
             |      AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = l1.l_orderkey
             |      AND l3.l_suppkey <> l1.l_suppkey
             |      AND l3.l_shipdate > o_orderdate)
             |GROUP BY s_name ORDER BY numwait DESC, s_name
             |LIMIT 20""".stripMargin)),

    // ---- explicit GROUPING SETS with grouping() flags — the general
    // form behind rollup (q12) and cube (q29): three disjoint grouping
    // sets in ONE aggregation pass (Spark expands each input row per
    // set before the single exchange). NULL ordering is pinned
    // explicitly: Spark ASC defaults nulls-first, DuckDB nulls-last.
    "q41_grouping_sets" -> QueryDef(
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("q41_orders")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |  CAST(grouping(o_orderstatus) AS INT) AS g1,
                |  CAST(grouping(o_orderpriority) AS INT) AS g2,
                |  count(*) AS n
                |FROM q41_orders
                |GROUP BY GROUPING SETS ((o_orderstatus),
                |  (o_orderpriority), ())
                |ORDER BY g1, g2, o_orderstatus NULLS FIRST,
                |  o_orderpriority NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  CAST(GROUPING(o_orderstatus) AS INT) AS g1,
             |  CAST(GROUPING(o_orderpriority) AS INT) AS g2,
             |  count(*) AS n
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY g1, g2, o_orderstatus NULLS FIRST,
             |  o_orderpriority NULLS FIRST""".stripMargin)),

    // ---- percent_rank / cume_dist: the top 0.1% of urgent orders by
    // value. Both functions are pure rank arithmetic ((rank-1)/(n-1),
    // peers/n) — integer-derived doubles, identical across engines; the
    // window is keyed on priority, so no single-partition sort.
    "q42_percent_rank" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
        t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .withColumn("pr", round(percent_rank().over(w), 6))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .filter(col("pr") >= 0.999)
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long")
              .as("totalprice_cents"),
            col("pr"), col("cd"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
             |  pr, cd
             |FROM (SELECT o_orderkey, o_totalprice,
             |    round(percent_rank() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice), 6) AS pr,
             |    round(cume_dist() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice), 6) AS cd
             |  FROM orders WHERE o_orderpriority = '1-URGENT')
             |WHERE pr >= 0.999 ORDER BY o_orderkey""".stripMargin)),

    // ---- running DISTINCT count over a window: Spark has no
    // count(DISTINCT) OVER, so the engine uses the first-seen
    // decomposition — a user contributes to the running distinct count
    // exactly on their first day — and a running sum of daily new users
    // over the full (event_type, day) domain. The oracle computes the
    // SAME numbers with DuckDB's native windowed DISTINCT aggregate — a
    // genuinely different algorithm, so the gate proves the
    // decomposition, not just echoes it. Shapes: two aggs + one keyed
    // window, all sharing the event_type partitioning.
    "q43_running_distinct" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"), col("user_id"),
            to_date(col("ts")).as("day"))
        val firstSeen = ev.groupBy("event_type", "user_id")
          .agg(min("day").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("new_users"))
        val days = ev.select("event_type", "day").distinct()
        val w = Window.partitionBy("event_type").orderBy("day")
        days.join(firstSeen, Seq("event_type", "day"), "left")
          .withColumn("run_distinct",
            sum(coalesce(col("new_users"), lit(0L))).over(w))
          .select("event_type", "day", "run_distinct")
          .orderBy("event_type", "day")
      },
      Some("""SELECT event_type, day,
             |  count(DISTINCT user_id) OVER
             |    (PARTITION BY event_type ORDER BY day) AS run_distinct
             |FROM (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
             |        user_id FROM events)
             |QUALIFY row_number() OVER (PARTITION BY event_type, day
             |  ORDER BY user_id) = 1
             |ORDER BY event_type, day""".stripMargin)),

    // ---- NOT IN with NULLs: SQL's three-valued-logic trap. A NULL in
    // the subquery makes `x NOT IN (...)` UNKNOWN for every x — zero
    // rows — while the null-free variant is a plain anti join. Spark
    // plans the first as a null-aware anti join (broadcast,
    // NULL-checked) and the second as a hash anti join; emitting both
    // counts side-by-side gates the semantic difference explicitly.
    "q44_not_in_nulls" -> QueryDef(
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("q44_customer")
        t(s, dir, "supplier").createOrReplaceTempView("q44_supplier")
        s.sql("""SELECT
                |  (SELECT count(*) FROM q44_customer
                |   WHERE c_nationkey NOT IN
                |     (SELECT nullif(s_nationkey, 3) FROM q44_supplier))
                |    AS n_with_null,
                |  (SELECT count(*) FROM q44_customer
                |   WHERE c_nationkey NOT IN
                |     (SELECT s_nationkey FROM q44_supplier
                |      WHERE s_nationkey < 10)) AS n_without_null
                |""".stripMargin)
      },
      Some("""SELECT
             |  (SELECT count(*) FROM customer
             |   WHERE c_nationkey NOT IN
             |     (SELECT nullif(s_nationkey, 3) FROM supplier))
             |    AS n_with_null,
             |  (SELECT count(*) FROM customer
             |   WHERE c_nationkey NOT IN
             |     (SELECT s_nationkey FROM supplier
             |      WHERE s_nationkey < 10)) AS n_without_null""".stripMargin)),

    // ---- TPC-H Q22 shape (adapted to the synthetic schema — no phone
    // column): above-average-balance customers in selected segments with
    // NO urgent order, reported per nation. Exercises the scalar-avg
    // subquery (one 1-row broadcast) + anti join (the NOT EXISTS) + group
    // report in one plan. Whole-cents sums keep the report integer-exact;
    // the avg threshold compares arbitrary doubles far from any boundary.
    // ---- TPC-H Q7 shape (volume shipping between two nations): the
    // classic snowflake join — the ONE big join is lineitem ⋈ orders
    // (both shuffle on orderkey); customer/supplier/nation broadcast
    // (nation twice, aliased per side). The two-nation disjunction can't
    // push below the joins (it spans both sides), but the year range
    // prunes the lineitem scan. Revenue in integer cents (per-row round,
    // exact order-independent sum — q36's discipline).
    "q46_tpch_q7" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
        val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        val n1 = t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
          .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
          .join(broadcast(n1), supp("s_nationkey") === n1("s_nk"))
          .join(broadcast(n2), cust("c_nationkey") === n2("c_nk"))
          .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .withColumn("l_year", year(col("l_shipdate")))
          .groupBy("supp_nation", "cust_nation", "l_year")
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long")).as("revenue_cents"),
            count(lit(1)).as("n"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT supp_nation, cust_nation, l_year,
             |  CAST(sum(volume_cents) AS BIGINT) AS revenue_cents,
             |  count(*) AS n
             |FROM (
             |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |    year(l_shipdate) AS l_year,
             |    CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |      AS BIGINT) AS volume_cents
             |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
             |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
             |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
             |    AND c_nationkey = n2.n_nationkey
             |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
             |    AND l_shipdate >= TIMESTAMP '1996-01-01'
             |    AND l_shipdate < TIMESTAMP '1999-01-01')
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ---- TPC-H Q10 shape (returned-item reporting): top-20 customers by
    // revenue lost to returns in a half-year window. lineitem ⋈ orders
    // shuffles on orderkey; customer/nation broadcast; the return-flag
    // and date filters push to the scans; final top-k is TakeOrdered
    // (rounded-cents revenue as primary key, custkey tie-break).
    "q47_tpch_q10" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val cust = t(s, dir, "customer")
        val nat = t(s, dir, "nation")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
          .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
          .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long")).as("revenue_cents"))
          .select(col("c_custkey"), col("c_name"), col("revenue_cents"),
            round(col("c_acctbal"), 2).as("acctbal"), col("n_name"))
          .orderBy(col("revenue_cents").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |    AS BIGINT)) AS BIGINT) AS revenue_cents,
             |  round(c_acctbal, 2) AS acctbal, n_name
             |FROM customer, orders, lineitem, nation
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-07-01'
             |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
             |GROUP BY c_custkey, c_name, c_acctbal, n_name
             |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin)),

    // ---- TPC-H Q8 shape (national market share): the full 8-table
    // snowflake — lineitem ⋈ orders is the one shuffle; part, customer,
    // supplier, region, and twice-aliased nation all broadcast; filters
    // (p_type, region, date range) prune their dim scans before the
    // joins. The share ratio divides two EXACT integer-cents sums
    // (conditional numerator via CASE), so the 6dp rounding has no
    // summation-order exposure at all.
    "q48_tpch_q8" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val prt = t(s, dir, "part")
          .filter(col("p_type") === "PROMO").select("p_partkey")
        val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
        val n1 = t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
        val reg = t(s, dir, "region")
          .filter(col("r_name") === "ASIA").select("r_regionkey")
        val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        val n2 = t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(broadcast(prt), li("l_partkey") === prt("p_partkey"))
          .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
          .join(broadcast(n1), cust("c_nationkey") === n1("c_nk"))
          .join(broadcast(reg), n1("n_regionkey") === reg("r_regionkey"))
          .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
          .join(broadcast(n2), supp("s_nationkey") === n2("s_nk"))
          .withColumn("o_year", year(col("o_orderdate")))
          .withColumn("vc", round(col("l_extendedprice")
            * (lit(1) - col("l_discount")) * 100).cast("long"))
          .groupBy("o_year")
          .agg(
            round(sum(when(col("nation") === "NATION_1", col("vc"))
              .otherwise(0L)).cast("double") / sum(col("vc")), 6)
              .as("mkt_share"),
            sum(col("vc")).cast("long").as("total_cents"))
          .orderBy("o_year")
      },
      Some("""SELECT o_year,
             |  round(sum(CASE WHEN nation = 'NATION_1' THEN vc ELSE 0 END)::DOUBLE
             |    / sum(vc), 6) AS mkt_share,
             |  CAST(sum(vc) AS BIGINT) AS total_cents
             |FROM (
             |  SELECT year(o_orderdate) AS o_year,
             |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS vc,
             |    n2.n_name AS nation
             |  FROM part, supplier, lineitem, orders, customer,
             |    nation n1, nation n2, region
             |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
             |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
             |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
             |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
             |    AND o_orderdate >= TIMESTAMP '1996-01-01'
             |    AND o_orderdate < TIMESTAMP '1999-01-01'
             |    AND p_type = 'PROMO')
             |GROUP BY o_year ORDER BY o_year""".stripMargin)),

    "q45_tpch_q22" -> QueryDef(
      (s, dir) => {
        val segs = Seq("BUILDING", "AUTOMOBILE", "MACHINERY")
        val cust = t(s, dir, "customer")
          .filter(col("c_mktsegment").isin(segs: _*))
        val avgBal = cust.filter(col("c_acctbal") > 0.0)
          .agg(avg("c_acctbal").as("a"))
        val urgent = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"))
        cust.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("a"))
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("numcust"),
            sum(round(col("c_acctbal") * 100).cast("long"))
              .as("totacctbal_cents"))
          .orderBy("c_nationkey")
      },
      Some("""WITH ab AS (
             |  SELECT avg(c_acctbal) AS a FROM customer
             |  WHERE c_acctbal > 0.0
             |    AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')),
             |c AS (
             |  SELECT c_nationkey, c_acctbal, c_custkey FROM customer
             |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
             |    AND c_acctbal > (SELECT a FROM ab))
             |SELECT c_nationkey, count(*) AS numcust,
             |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             |    AS totacctbal_cents
             |FROM c WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // ---- TPC-H Q6 shape: pure scan-side work. Both range predicates and
    // the column projection push into the parquet scan; single partial+final
    // agg, no shuffle beyond the 1-row final combine.
    "q49_tpch_q6" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(round(col("l_extendedprice") * col("l_discount") * 100)
          .cast("long")).as("revenue_cents"),
          count(lit(1)).as("n")),
      Some("""SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
             |    AS BIGINT)) AS BIGINT) AS revenue_cents,
             |  count(*) AS n
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // ---- TPC-H Q4 shape (EXISTS): left-semi join with a non-equi conjunct
    // (l_shipdate > o_orderdate). Spark keeps the equi key as the shuffle
    // key and evaluates the inequality as a residual — no cross product.
    // The 3-month orders filter prunes the probe side before the exchange.
    "q50_tpch_q4" -> QueryDef(
      (s, dir) => {
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
        ord.join(li, ord("o_orderkey") === li("l_orderkey") &&
            li("l_shipdate") > ord("o_orderdate"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-04-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---- TPC-H Q12 shape (adapted: l_returnflag stands in for the absent
    // l_shipmode). Conditional aggregation after a shuffle join; the
    // returnflag/shipdate filters prune lineitem before the exchange.
    "q51_tpch_q12" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_returnflag").isin("A", "R") &&
            col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .select("l_orderkey", "l_returnflag")
        val ord = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        ord.join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_returnflag").as("ship_class"))
          .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy("ship_class")
      },
      Some("""SELECT l_returnflag AS ship_class,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE l_returnflag IN ('A','R')
             |  AND l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- TPC-H Q13 shape: LEFT OUTER join with an extra join-side filter
    // (kept in the join condition, NOT a WHERE — a WHERE would turn the
    // outer join inner), then a two-level aggregation. Customers with zero
    // qualifying orders survive with c_count = 0.
    "q52_tpch_q13" -> QueryDef(
      (s, dir) => {
        val cust = t(s, dir, "customer").select("c_custkey")
        val ord = t(s, dir, "orders")
          .select("o_custkey", "o_orderkey", "o_orderpriority")
        cust.join(ord, cust("c_custkey") === ord("o_custkey") &&
            ord("o_orderpriority") =!= "4-NOT SPECIFIED", "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(desc("custdist"), desc("c_count"))
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
             |  SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT OUTER JOIN orders
             |    ON c_custkey = o_custkey
             |    AND o_orderpriority <> '4-NOT SPECIFIED'
             |  GROUP BY c_custkey)
             |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // ---- TPC-H Q14 shape: promo revenue share. Broadcast the 2k-row part
    // dim; one-row final agg. Cents-exact numerator/denominator, double
    // division rounded to 6 places (same discipline as q48's mkt_share).
    "q53_tpch_q14" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        val prt = t(s, dir, "part").select("p_partkey", "p_type")
        li.join(broadcast(prt), col("l_partkey") === col("p_partkey"))
          .withColumn("vc", round(col("l_extendedprice")
            * (lit(1) - col("l_discount")) * 100).cast("long"))
          .agg(
            round(lit(100.0) * sum(when(col("p_type") === "PROMO", col("vc"))
              .otherwise(0L)).cast("double") / sum(col("vc")), 6)
              .as("promo_revenue_pct"),
            sum(col("vc")).as("total_cents"))
      },
      Some("""SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN vc
             |    ELSE 0 END)::DOUBLE / sum(vc), 6) AS promo_revenue_pct,
             |  CAST(sum(vc) AS BIGINT) AS total_cents
             |FROM (
             |  SELECT p_type, CAST(round(l_extendedprice * (1 - l_discount)
             |    * 100) AS BIGINT) AS vc
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
             |    AND l_shipdate < TIMESTAMP '1997-10-01')""".stripMargin)),

    // ---- TPC-H Q15 shape: top revenue supplier. The revenue CTE is
    // computed ONCE (no view re-evaluation); its 1-row max broadcasts back
    // as a cross join — the classic decorrelated max-equality plan.
    "q54_tpch_q15" -> QueryDef(
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long")).as("total_revenue_cents"))
        val mx = rev.agg(max("total_revenue_cents").as("mx"))
        val supp = t(s, dir, "supplier").select("s_suppkey", "s_name")
        rev.crossJoin(broadcast(mx))
          .filter(col("total_revenue_cents") === col("mx"))
          .join(broadcast(supp), col("supplier_no") === col("s_suppkey"))
          .select("s_suppkey", "s_name", "total_revenue_cents")
          .orderBy("s_suppkey")
      },
      Some("""WITH revenue AS (
             |  SELECT l_suppkey AS supplier_no,
             |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
             |      * 100) AS BIGINT)) AS BIGINT) AS total_revenue_cents
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |    AND l_shipdate < TIMESTAMP '1997-04-01'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, total_revenue_cents
             |FROM supplier JOIN revenue ON s_suppkey = supplier_no
             |WHERE total_revenue_cents =
             |  (SELECT max(total_revenue_cents) FROM revenue)
             |ORDER BY s_suppkey""".stripMargin)),

    // ---- TPC-H Q19 shape: disjunctive mixed-side predicates. Each OR arm
    // references both part and lineitem, so the filter is a residual on the
    // broadcast join; Catalyst still derives the common l_partkey equi key
    // and an implied part-side domain (brand IN ...) pushdown.
    "q55_tpch_q19" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        val prt = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
        li.join(broadcast(prt), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 21)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 30)) ||
            (col("p_brand") === "Brand#6" && col("p_size").between(1, 35) &&
              col("l_quantity").between(20, 40)))
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long")).as("revenue_cents"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
             |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
             |  count(*) AS n
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
             |    AND l_quantity BETWEEN 1 AND 21)
             |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
             |    AND l_quantity BETWEEN 10 AND 30)
             |  OR (p_brand = 'Brand#6' AND p_size BETWEEN 1 AND 35
             |    AND l_quantity BETWEEN 20 AND 40)""".stripMargin)),

    // ---- TPC-H Q2 shape (adapted: lineitem is the part-supplier bridge;
    // supplycost = min observed unit price). The correlated min subquery is
    // decorrelated by hand: one groupBy over the region-restricted bridge,
    // joined back on (partkey, cost) — the plan TPC-H engines converge to.
    "q56_tpch_q2" -> QueryDef(
      (s, dir) => {
        val ps = t(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("partkey"),
            col("l_suppkey").as("suppkey"))
          .agg(min(col("l_extendedprice") / col("l_quantity"))
            .as("supplycost"))
        val asiaSupp = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("s_suppkey", "s_acctbal", "s_name", "n_name")
        val eligible = ps.join(broadcast(asiaSupp),
          col("suppkey") === col("s_suppkey"))
        val minCost = eligible.groupBy(col("partkey").as("mc_partkey"))
          .agg(min("supplycost").as("min_cost"))
        val prt = t(s, dir, "part")
          .filter(col("p_size") === 15 && col("p_type") === "LARGE")
          .select("p_partkey", "p_type")
        eligible
          .join(broadcast(prt), col("partkey") === col("p_partkey"))
          .join(minCost, col("partkey") === col("mc_partkey") &&
            col("supplycost") === col("min_cost"))
          .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
          .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"),
            col("p_partkey"))
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             |    min(l_extendedprice / l_quantity) AS supplycost
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT s_acctbal, s_name, n_name, p_partkey, p_type
             |FROM part, ps, supplier, nation, region
             |WHERE p_partkey = ps.partkey AND s_suppkey = ps.suppkey
             |  AND p_size = 15 AND p_type = 'LARGE'
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'ASIA'
             |  AND supplycost = (
             |    SELECT min(supplycost) FROM ps ps2, supplier s2,
             |      nation n2, region r2
             |    WHERE ps2.partkey = p_partkey AND s2.s_suppkey = ps2.suppkey
             |      AND s2.s_nationkey = n2.n_nationkey
             |      AND n2.n_regionkey = r2.r_regionkey
             |      AND r2.r_name = 'ASIA')
             |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin)),

    // ---- TPC-H Q9 shape (adapted: cost proxy = 10% of retail price; the
    // schema has no partsupp). One big-big shuffle join (lineitem-orders);
    // part/supplier/nation broadcast. The LIKE filter prunes part BEFORE
    // the broadcast, shrinking both the build side and the probe output.
    "q57_tpch_q9" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
        val prt = t(s, dir, "part")
          .filter(col("p_name").like("%a%"))
          .select("p_partkey", "p_retailprice")
        val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        val nat = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("nation"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .withColumn("o_year", year(col("o_orderdate")))
          .withColumn("amount_cents",
            round((col("l_extendedprice") * (lit(1) - col("l_discount"))
              - col("p_retailprice") * col("l_quantity") * lit(0.1)) * 100)
              .cast("long"))
          .groupBy("nation", "o_year")
          .agg(sum("amount_cents").as("profit_cents"))
          .orderBy(col("nation"), desc("o_year"))
      },
      Some("""SELECT nation, o_year,
             |  CAST(sum(amount_cents) AS BIGINT) AS profit_cents
             |FROM (
             |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
             |    CAST(round((l_extendedprice * (1 - l_discount)
             |      - p_retailprice * l_quantity * 0.1) * 100) AS BIGINT)
             |      AS amount_cents
             |  FROM lineitem
             |  JOIN orders ON o_orderkey = l_orderkey
             |  JOIN part ON p_partkey = l_partkey
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  WHERE p_name LIKE '%a%')
             |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin)),

    // ---- TPC-H Q11 shape (adapted: lineitem value per part in one
    // nation). The HAVING-over-global-fraction is a 1-row agg broadcast
    // back over the grouped values — the value CTE is computed once and
    // reused for both sides (Spark reuses the exchange).
    "q58_tpch_q11" -> QueryDef(
      (s, dir) => {
        val n1Supp = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")
            .filter(col("n_name") === "NATION_1")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey")
        val value = t(s, dir, "lineitem")
          .join(broadcast(n1Supp), col("l_suppkey") === col("s_suppkey"))
          .groupBy("l_partkey")
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long")).as("value_cents"))
        val thr = value.agg((sum("value_cents") * lit(0.001)).as("thr"))
        value.crossJoin(broadcast(thr))
          .filter(col("value_cents") > col("thr"))
          .select("l_partkey", "value_cents")
          .orderBy(desc("value_cents"), col("l_partkey"))
      },
      Some("""WITH value AS (
             |  SELECT l_partkey,
             |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
             |      * 100) AS BIGINT)) AS BIGINT) AS value_cents
             |  FROM lineitem
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  WHERE n_name = 'NATION_1' GROUP BY l_partkey)
             |SELECT l_partkey, value_cents FROM value
             |WHERE value_cents > (SELECT sum(value_cents) * 0.001 FROM value)
             |ORDER BY value_cents DESC, l_partkey""".stripMargin)),

    // ---- TPC-H Q16 shape: distinct-supplier counts per part attribute
    // with a NOT IN exclusion. The exclusion list (negative-balance
    // suppliers) is tiny → broadcast anti join; count(DISTINCT) expands to
    // the standard two-phase distinct aggregate on (group, suppkey).
    "q59_tpch_q16" -> QueryDef(
      (s, dir) => {
        val badSupp = t(s, dir, "supplier")
          .filter(col("s_acctbal") < 0).select("s_suppkey")
        val prt = t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
          .select("p_partkey", "p_brand", "p_type", "p_size")
        t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
          .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
          .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
             |  count(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
             |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
             |  AND l_suppkey NOT IN
             |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY p_brand, p_type, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // ---- TPC-H Q20 shape: nested semi join — suppliers who shipped >100
    // units of widget parts in 1997. The inner aggregate runs over the
    // part-pruned lineitem (broadcast), then the qualifying supplier set
    // (tiny) semi-joins the nation-filtered supplier dim.
    "q60_tpch_q20" -> QueryDef(
      (s, dir) => {
        val widgets = t(s, dir, "part")
          .filter(col("p_name").like("%widget%")).select("p_partkey")
        val qualifying = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(broadcast(widgets), col("l_partkey") === col("p_partkey"))
          .groupBy("l_suppkey")
          .agg(sum("l_quantity").as("qty"))
          .filter(col("qty") > 100)
          .select("l_suppkey")
        t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")
            .filter(col("n_name") === "NATION_1")),
            col("s_nationkey") === col("n_nationkey"))
          .join(qualifying, col("s_suppkey") === col("l_suppkey"),
            "left_semi")
          .select("s_name", "s_acctbal")
          .orderBy("s_name")
      },
      Some("""SELECT s_name, s_acctbal
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |WHERE n_name = 'NATION_1' AND s_suppkey IN (
             |  SELECT l_suppkey FROM lineitem
             |  JOIN part ON p_partkey = l_partkey
             |  WHERE p_name LIKE '%widget%'
             |    AND l_shipdate >= TIMESTAMP '1997-01-01'
             |    AND l_shipdate < TIMESTAMP '1998-01-01'
             |  GROUP BY l_suppkey HAVING sum(l_quantity) > 100)
             |ORDER BY s_name""".stripMargin)),

    // Rolling z-score anomaly detection: per-user mean/stddev over the
    // PRECEDING-20-rows frame (never the current row — no self-leak),
    // flag |z| > 2.5. The time-series outlier primitive for metric
    // streams; the frame is a bounded per-key window, so state is 20
    // rows per key at any scale and the single exchange is the user_id
    // hash. z rounds to 6 decimals in BOTH engines before the threshold
    // compare (x46's cross-engine float discipline — the flag decision
    // itself is made on the rounded value, so a 1-ulp stddev drift
    // cannot flip membership).
    "q61_anomaly" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-20, -1)
        t(s, dir, "events")
          .withColumn("mu", avg("value").over(w))
          .withColumn("sd", stddev_samp("value").over(w))
          .withColumn("cnt", count(lit(1)).over(w))
          .filter(col("cnt") === 20 && round(col("sd"), 9) > 0)
          .withColumn("z", round((col("value") - col("mu")) / col("sd"), 6))
          .filter(abs(col("z")) > 2.5)
          .select(col("event_id"), col("user_id"), col("z"))
          .orderBy("event_id")
      },
      Some("""WITH w AS (
             |  SELECT event_id, user_id, value,
             |    avg(value) OVER win AS mu,
             |    stddev_samp(value) OVER win AS sd,
             |    count(*) OVER win AS cnt
             |  FROM events
             |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
             |SELECT event_id, user_id, round((value - mu) / sd, 6) AS z
             |FROM w
             |WHERE cnt = 20 AND round(sd, 9) > 0
             |  AND abs(round((value - mu) / sd, 6)) > 2.5
             |ORDER BY event_id""".stripMargin)),

    // Full outer join with coalesced keys — the reconciliation shape
    // (orders placed per day vs lineitems shipped per day; boundary
    // days exist on exactly one side, so both null-extension arms are
    // exercised). Each side pre-aggregates to day grain BEFORE the
    // join (the 100 TB discipline: join cardinalities collapse from
    // row counts to day counts), and the USING-join emits the
    // coalesced key.
    "q62_full_outer" -> QueryDef(
      (s, dir) => {
        val od = t(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n_orders"))
        val sd = t(s, dir, "lineitem")
          .groupBy(to_date(col("l_shipdate")).as("day"))
          .agg(count(lit(1)).as("n_ships"))
        od.join(sd, Seq("day"), "full_outer")
          .select(col("day").cast("string").as("day"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("n_ships"), lit(0L)).as("n_ships"))
          .orderBy("day")
      },
      Some("""WITH od AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
             |  FROM orders GROUP BY 1),
             |sd AS (
             |  SELECT CAST(l_shipdate AS DATE) AS day, count(*) AS n_ships
             |  FROM lineitem GROUP BY 1)
             |SELECT CAST(COALESCE(od.day, sd.day) AS VARCHAR) AS day,
             |  COALESCE(n_orders, 0) AS n_orders,
             |  COALESCE(n_ships, 0) AS n_ships
             |FROM od FULL OUTER JOIN sd ON od.day = sd.day
             |ORDER BY day""".stripMargin)),

    // Winsorization (clip at the exact p05/p95 per group) — the
    // outlier-robust feature-engineering pass. Exact interpolated
    // percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`: both
    // index p·(n-1) with linear interpolation) computed ONCE per group
    // and broadcast-joined back — never a per-row percentile window.
    // Clipped values round to 6 decimals in both engines.
    "q63_winsorize" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val bounds = ev.groupBy("event_type").agg(
          expr("percentile(value, 0.05)").as("lo"),
          expr("percentile(value, 0.95)").as("hi"))
        ev.join(broadcast(bounds), Seq("event_type"))
          .select(col("event_id"), col("event_type"),
            round(least(greatest(col("value"), col("lo")), col("hi")), 6)
              .as("clipped"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_type,
             |    quantile_cont(value, 0.05) AS lo,
             |    quantile_cont(value, 0.95) AS hi
             |  FROM events GROUP BY event_type)
             |SELECT event_id, e.event_type,
             |  round(least(greatest(value, lo), hi), 6) AS clipped
             |FROM events e JOIN b ON e.event_type = b.event_type
             |ORDER BY event_id""".stripMargin)),

    // Correlation/covariance statistics per group: Pearson corr and
    // sample covariance of value against event time (integer micros on
    // both engines — unix_micros ≡ epoch_us, no truncation mismatch).
    // One partial-aggregable exchange. Rounding is MAGNITUDE-AWARE:
    // corr/stddev are O(1)/O(100) and round to 6, but covar_vs is
    // O(1e6) — at that size 6 decimals sits on the distributed
    // summation-drift boundary (~1e-12 relative), so it rounds to 1
    // decimal (tolerance 0.05 vs ~3e-6 drift; caught at sf0.001).
    "q64_corr" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(corr(col("value"),
            unix_micros(col("ts")).cast("double")), 6).as("corr_vt"),
          round(covar_samp(col("value"),
            unix_micros(col("ts")).cast("double") / 1e6), 1)
            .as("covar_vs"),
          round(stddev_samp(col("value")), 6).as("sd_v"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  round(corr(value, CAST(epoch_us(ts) AS DOUBLE)), 6)
             |    AS corr_vt,
             |  round(covar_samp(value, CAST(epoch_us(ts) AS DOUBLE) / 1e6),
             |    1) AS covar_vs,
             |  round(stddev_samp(value), 6) AS sd_v
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // Equi-width histogram (10 buckets between the exact per-group
    // min/max) — the data-profiling distribution pass. Bucket index is
    // floor((v-lo)*10/(hi-lo)) clamped to 9: every arithmetic step is
    // the same IEEE double op in both engines, so the integer bucket is
    // bit-deterministic. A group whose values are all equal (hi = lo)
    // is pinned to bucket 0 explicitly — 0.0/0.0 is where the engines
    // diverge (Spark floor(NaN)→0 vs DuckDB NULL). Shape: one agg
    // for bounds (broadcast back) + one map + one (group, bucket) agg —
    // bucket keyspace is groups×10, never data-sized.
    "q65_histogram" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val bounds = ev.groupBy("event_type").agg(
          min(col("value")).as("lo"), max(col("value")).as("hi"))
        ev.join(broadcast(bounds), Seq("event_type"))
          .select(col("event_type"),
            when(col("hi") === col("lo"), lit(0L))
              .otherwise(least(floor((col("value") - col("lo")) * lit(10.0) /
                (col("hi") - col("lo"))), lit(9L))).cast("int").as("bucket"))
          .groupBy("event_type", "bucket")
          .agg(count(lit(1)).as("n"))
          .orderBy("event_type", "bucket")
      },
      Some("""WITH b AS (
             |  SELECT event_type, min(value) AS lo, max(value) AS hi
             |  FROM events GROUP BY event_type)
             |SELECT e.event_type,
             |  CAST(CASE WHEN hi = lo THEN 0
             |    ELSE least(floor((value - lo) * 10.0 / (hi - lo)), 9)
             |    END AS INT) AS bucket,
             |  count(*) AS n
             |FROM events e JOIN b ON e.event_type = b.event_type
             |GROUP BY e.event_type, bucket
             |ORDER BY 1, 2""".stripMargin)),

    // Calendar-spine forward fill — the time-series gap-filling pass
    // (resample daily + carry the last observation forward). A sparse
    // event subset (every-97th id) is summed per (type, day), joined
    // against the full min..max day spine per type, and nulls fill from
    // the last non-null daily sum via `last(v, ignoreNulls)` over an
    // unbounded-preceding frame (≡ DuckDB last_value IGNORE NULLS).
    // Days before a type's first observation stay null in both engines.
    // Shape: one daily agg + spine explode (types × days, group-bounded)
    // + one per-type ordered window — running state is ONE value.
    "q66_ffill" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, dir, "events")
          .filter(col("event_id") % 97 === 0)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            col("value"))
        val daily = ev.groupBy("event_type", "day")
          .agg(round(sum(col("value")), 6).as("v"))
        val span = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        val spine = daily.select("event_type").distinct()
          .crossJoin(broadcast(span))
          .select(col("event_type"),
            explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("event_type", "day"), "left")
          .select(col("event_type"), col("day"),
            last(col("v"), ignoreNulls = true).over(w).as("filled"))
          .orderBy("event_type", "day")
      },
      Some("""WITH ev AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day, value
             |  FROM events WHERE event_id % 97 = 0),
             |daily AS (
             |  SELECT event_type, day, round(sum(value), 6) AS v
             |  FROM ev GROUP BY event_type, day),
             |span AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
             |spine AS (
             |  SELECT t.event_type, CAST(g.day AS DATE) AS day
             |  FROM (SELECT DISTINCT event_type FROM daily) t
             |  CROSS JOIN (
             |    SELECT unnest(generate_series(CAST(lo AS TIMESTAMP),
             |      CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS day
             |    FROM span) g)
             |SELECT spine.event_type, spine.day,
             |  last_value(v IGNORE NULLS) OVER (
             |    PARTITION BY spine.event_type ORDER BY spine.day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
             |FROM spine LEFT JOIN daily
             |  ON daily.event_type = spine.event_type
             |  AND daily.day = spine.day
             |ORDER BY 1, 2""".stripMargin)),

    // Two-sample z-test per event_type (cohorts = user_id parity) — the
    // A/B-significance pass of an experimentation pipeline. ONE
    // conditional aggregation computes both cohorts' n/sum/stddev (no
    // second scan, no join); z = (mean0-mean1)/sqrt(sd0²/n0 + sd1²/n1)
    // from the UNROUNDED partials, rounded to 4 at the end, and the
    // significance flag derives from the ROUNDED z so a 1-ulp drift
    // cannot flip the boolean (the q61 discipline).
    "q67_abtest" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("grp", (col("user_id") % 2).cast("int"))
        ev.groupBy("event_type").agg(
            count(when(col("grp") === 0, lit(1))).as("n0"),
            count(when(col("grp") === 1, lit(1))).as("n1"),
            sum(when(col("grp") === 0, col("value"))).as("s0"),
            sum(when(col("grp") === 1, col("value"))).as("s1"),
            stddev_samp(when(col("grp") === 0, col("value"))).as("sd0"),
            stddev_samp(when(col("grp") === 1, col("value"))).as("sd1"))
          .select(col("event_type"), col("n0"), col("n1"),
            round(expr("(s0 / n0 - s1 / n1) / " +
              "sqrt(sd0 * sd0 / n0 + sd1 * sd1 / n1)"), 4).as("z"))
          .withColumn("significant", abs(col("z")) > 1.96)
          .orderBy("event_type")
      },
      Some("""WITH a AS (
             |  SELECT event_type,
             |    count(*) FILTER (WHERE user_id % 2 = 0) AS n0,
             |    count(*) FILTER (WHERE user_id % 2 = 1) AS n1,
             |    sum(value) FILTER (WHERE user_id % 2 = 0) AS s0,
             |    sum(value) FILTER (WHERE user_id % 2 = 1) AS s1,
             |    stddev_samp(value) FILTER (WHERE user_id % 2 = 0) AS sd0,
             |    stddev_samp(value) FILTER (WHERE user_id % 2 = 1) AS sd1
             |  FROM events GROUP BY event_type)
             |SELECT event_type, n0, n1,
             |  round((s0 / n0 - s1 / n1) /
             |    sqrt(sd0 * sd0 / n0 + sd1 * sd1 / n1), 4) AS z,
             |  abs(round((s0 / n0 - s1 / n1) /
             |    sqrt(sd0 * sd0 / n0 + sd1 * sd1 / n1), 4)) > 1.96
             |    AS significant
             |FROM a ORDER BY event_type""".stripMargin)),

    // SLIDING event-time windows (6h length, 2h slide — q20 is the
    // tumbling case): every event lands in exactly 3 overlapping
    // windows. Spark's window(len, slide) replicates rows engine-side;
    // the oracle derives the same 3 covering starts per event as
    // time_bucket(2h) - {0,1,2}*2h (both engines align 2h buckets to a
    // whole-day origin, so starts agree exactly). Shape: the 3x row
    // expansion happens map-side; one (ws, type) agg — at 100 TB the
    // expansion factor is len/slide, a deliberate, bounded constant.
    "q68_sliding" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours", "2 hours")
            .getField("start").as("ws"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("ws", "event_type"),
      Some("""SELECT ws, event_type, count(*) AS n,
             |  round(sum(value), 2) AS total
             |FROM (
             |  SELECT time_bucket(INTERVAL 2 HOUR, ts)
             |      - i.i * INTERVAL 2 HOUR AS ws,
             |    event_type, value
             |  FROM events, LATERAL (SELECT unnest([0, 1, 2]) AS i) i)
             |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin)),

    // Markov transition matrix over per-user event sequences (the
    // user-journey / clickstream-mining pass): consecutive event pairs
    // via lead() over (ts, event_id) — the id tiebreak makes the
    // sequence engine-exact — counted into a types² matrix with
    // transition probability in integer micros (n·1e6 div row total).
    // Shape: one window exchange on user_id + one bounded-keyspace agg.
    "q69_transitions" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val pairs = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val tot = pairs.groupBy("from_type")
          .agg(sum(col("n")).as("row_n"))
        pairs.join(broadcast(tot), "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            expr("(n * 1000000L) div row_n").as("p_micro"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH seq AS (
             |  SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |pairs AS (
             |  SELECT from_type, to_type, count(*) AS n FROM seq
             |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
             |tot AS (
             |  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n FROM pairs
             |  GROUP BY from_type)
             |SELECT pairs.from_type, to_type, n,
             |  CAST((n * 1000000) // row_n AS BIGINT) AS p_micro
             |FROM pairs JOIN tot ON tot.from_type = pairs.from_type
             |ORDER BY pairs.from_type, to_type""".stripMargin)),

    // UNPIVOT / melt — wide-to-long reshaping (the feature-table ->
    // (entity, metric, value) normalization every profiling/export layer
    // needs). Spark's native Dataset.unpivot lowers to an Expand node:
    // ONE pass over the input emitting k rows per input row, no shuffle
    // beyond the upstream agg — the same plan shape the UNION-ALL oracle
    // describes, minus its k separate scans. Metrics are kept integer
    // (counts and BIGINT sums) so parity is exact.
    "q70_unpivot" -> QueryDef(
      (s, dir) => {
        val wide = t(s, dir, "lineitem")
          .groupBy(col("l_returnflag").as("flag"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(col("l_linenumber").cast("long")).as("sum_lines"))
        wide.unpivot(
            Array(col("flag")),
            Array(col("n_rows"), col("sum_qty"), col("sum_lines")),
            "metric", "value")
          .orderBy("flag", "metric")
      },
      Some("""WITH wide AS (
             |  SELECT l_returnflag AS flag, count(*) AS n_rows,
             |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |    CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_lines
             |  FROM lineitem GROUP BY 1)
             |SELECT flag, 'n_rows' AS metric, n_rows AS value FROM wide
             |UNION ALL
             |SELECT flag, 'sum_qty', sum_qty FROM wide
             |UNION ALL
             |SELECT flag, 'sum_lines', sum_lines FROM wide
             |ORDER BY flag, metric""".stripMargin)),

    // Correlated LATERAL subquery with ORDER BY + LIMIT — "top 2 orders
    // per customer" phrased the way an analyst writes it. Spark
    // decorrelates the lateral (DecorrelateInnerQuery rewrites the
    // correlated Limit into a partitioned rank filter), so the physical
    // plan is ONE shuffle on the correlation key — identical cost to the
    // hand-written window idiom (q9/x63), never a per-customer re-scan
    // of orders. That rewrite is the point of the gate: at 100 TB the
    // naive nested-loop reading is unrunnable, and this proves the engine
    // plans the declarative form into the scalable shape. The q71-family
    // delimiter work lives elsewhere; the oracle here is DuckDB's native
    // LATERAL, same ORDER BY tie-break (o_totalprice DESC, o_orderkey).
    "q72_lateral" -> QueryDef(
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("q72_customer")
        t(s, dir, "orders").createOrReplaceTempView("q72_orders")
        s.sql("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
                |FROM q72_customer c,
                |LATERAL (SELECT o_orderkey, o_totalprice FROM q72_orders
                |         WHERE o_custkey = c.c_custkey
                |         ORDER BY o_totalprice DESC, o_orderkey
                |         LIMIT 2) o
                |ORDER BY c.c_custkey, o.o_totalprice DESC,
                |  o.o_orderkey""".stripMargin)
      },
      Some("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
             |FROM customer c,
             |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             |         WHERE o_custkey = c.c_custkey
             |         ORDER BY o_totalprice DESC, o_orderkey
             |         LIMIT 2) o
             |ORDER BY c.c_custkey, o.o_totalprice DESC,
             |  o.o_orderkey""".stripMargin)),

    // WITH RECURSIVE executed by Spark ITSELF (UnionLoop, new in the 4.x
    // line) — the iterative-SQL surface, gated against DuckDB running
    // the IDENTICAL statement: ancestor closure (depth + path sum) down
    // a binary tree over the 64 distinct p_partkey%64 nodes. The node
    // count — hence recursion depth (6) — is scale-INVARIANT by
    // construction: Spark's recursion executes one sequential join per
    // level, so depth, not data size, is what must stay bounded (the
    // default cteRecursionLevelLimit is 100). For data-sized hierarchies
    // the scale path stays x54's O(log depth) pointer doubling; this
    // gate pins the SQL surface itself.
    //
    // r13: the explicit register() makes the RecursionDoubling rule
    // (plans/RecursionRewrite.scala) fire HERE deterministically — the
    // recursive term is exactly the linear-additive shape it matches, so
    // this gate oracle-checks the HierarchyDoubling exec against DuckDB
    // running the raw SQL every round (spec additionally pins rewrite
    // rows == UnionLoop rows). Without this, registration depended on
    // whether an as-of gate happened to run earlier in the sweep.
    "q73_recursive_cte" -> QueryDef(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        t(s, dir, "part").createOrReplaceTempView("q73_part")
        s.sql("""WITH RECURSIVE nodes AS (
                |  SELECT DISTINCT CAST(p_partkey % 64 AS BIGINT) AS node
                |  FROM q73_part),
                |r AS (
                |  SELECT node, CAST(0 AS BIGINT) AS depth,
                |    node AS path_sum
                |  FROM nodes WHERE node = 0
                |  UNION ALL
                |  SELECT n.node, r.depth + 1, r.path_sum + n.node
                |  FROM nodes n JOIN r
                |    ON r.node = CAST(floor(n.node / 2) AS BIGINT)
                |  WHERE n.node > 0)
                |SELECT node, depth, path_sum FROM r
                |ORDER BY node""".stripMargin)
      },
      Some("""WITH RECURSIVE nodes AS (
             |  SELECT DISTINCT CAST(p_partkey % 64 AS BIGINT) AS node
             |  FROM part),
             |r AS (
             |  SELECT node, CAST(0 AS BIGINT) AS depth,
             |    node AS path_sum
             |  FROM nodes WHERE node = 0
             |  UNION ALL
             |  SELECT n.node, r.depth + 1, r.path_sum + n.node
             |  FROM nodes n JOIN r
             |    ON r.node = CAST(floor(n.node / 2) AS BIGINT)
             |  WHERE n.node > 0)
             |SELECT node, CAST(depth AS BIGINT) AS depth,
             |  CAST(path_sum AS BIGINT) AS path_sum FROM r
             |ORDER BY node""".stripMargin)),

    // EWMA smoothing per user (α = 1/2, 16-event window) — the standard
    // monitoring smoother, made CROSS-ENGINE EXACT by construction:
    // power-of-two weights scale doubles without rounding, and both
    // engines fold the windowed list left-to-right (Spark `aggregate`,
    // DuckDB `list_reduce`), so the only float additions happen in the
    // same order — bit-identical sums, then one round(6). The window is
    // ROWS-bounded (16), so state never grows with series length; an
    // unbounded-α EWMA needs 2^n weight ratios no integer type survives.
    "q74_ewma" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy("ts", "event_id").rowsBetween(-15, 0)
        t(s, dir, "events")
          .filter(col("user_id") % 50 === 0)
          .withColumn("ws", collect_list(col("value")).over(w))
          .select(col("user_id"), col("event_id"),
            round(col("value"), 6).as("value"),
            round(expr(
              """aggregate(transform(ws, (x, i) ->
                |  x * CAST(shiftleft(CAST(1 AS BIGINT),
                |        16 - size(ws) + i) AS DOUBLE)),
                |  CAST(0.0 AS DOUBLE), (a, b) -> a + b)
                |/ CAST(shiftleft(CAST(1 AS BIGINT), 16)
                |       - shiftleft(CAST(1 AS BIGINT), 16 - size(ws))
                |       AS DOUBLE)""".stripMargin), 6).as("ewma"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH win AS (
             |  SELECT user_id, event_id, value,
             |    list(value) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS ws
             |  FROM events WHERE user_id % 50 = 0)
             |SELECT user_id, event_id, round(value, 6) AS value,
             |  round(
             |    list_reduce(list_prepend(0.0,
             |      list_transform(range(1, len(ws) + 1), j ->
             |        ws[j] * CAST(1::BIGINT << (16 - len(ws) + j - 1)
             |          AS DOUBLE))),
             |      (a, b) -> a + b)
             |    / CAST((1::BIGINT << 16) - (1::BIGINT << (16 - len(ws)))
             |        AS DOUBLE), 6) AS ewma
             |FROM win ORDER BY user_id, event_id""".stripMargin)),

    // Path max/min down the q73 tree — the OTHER two path monoids the
    // RecursionDoubling rule composes (greatest/least alongside Add):
    // per-node value is max(p_retailprice) in integer CENTS (exact in
    // both engines — max over identical doubles, one round, one cast;
    // no float arithmetic downstream: greatest/least only SELECT among
    // those exact values). Spark runs the HierarchyDoubling exec (rule
    // registered, spec-pinned); DuckDB runs the raw recursion — so the
    // gate cross-checks segment-composed max/min against level-at-a-
    // time max/min on real data every round.
    "q75_recursive_minmax" -> QueryDef(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        t(s, dir, "part").createOrReplaceTempView("q75_part")
        s.sql("""WITH RECURSIVE nodes AS (
                |  SELECT CAST(p_partkey % 64 AS BIGINT) AS node,
                |    CAST(round(max(p_retailprice) * 100) AS BIGINT)
                |      AS cents
                |  FROM q75_part GROUP BY 1),
                |r AS (
                |  SELECT node, cents AS max_cents, cents AS min_cents,
                |    CAST(0 AS BIGINT) AS depth
                |  FROM nodes WHERE node = 0
                |  UNION ALL
                |  SELECT n.node, greatest(r.max_cents, n.cents),
                |    least(r.min_cents, n.cents), r.depth + 1
                |  FROM nodes n JOIN r
                |    ON r.node = CAST(floor(n.node / 2) AS BIGINT)
                |  WHERE n.node > 0)
                |SELECT node, max_cents, min_cents, depth FROM r
                |ORDER BY node""".stripMargin)
      },
      Some("""WITH RECURSIVE nodes AS (
             |  SELECT CAST(p_partkey % 64 AS BIGINT) AS node,
             |    CAST(round(max(p_retailprice) * 100) AS BIGINT)
             |      AS cents
             |  FROM part GROUP BY 1),
             |r AS (
             |  SELECT node, cents AS max_cents, cents AS min_cents,
             |    CAST(0 AS BIGINT) AS depth
             |  FROM nodes WHERE node = 0
             |  UNION ALL
             |  SELECT n.node, greatest(r.max_cents, n.cents),
             |    least(r.min_cents, n.cents), r.depth + 1
             |  FROM nodes n JOIN r
             |    ON r.node = CAST(floor(n.node / 2) AS BIGINT)
             |  WHERE n.node > 0)
             |SELECT node, max_cents, min_cents,
             |  CAST(depth AS BIGINT) AS depth FROM r
             |ORDER BY node""".stripMargin)),

    // COMPOSITE-key recursion — the multi-tenant hierarchy shape: the
    // same binary forest per tenant, keyed (tenant, node), the recursive
    // join an AND of two equalities. r14's RecursionDoubling extension
    // treats the key tuple as the pointer (one _gr_node/_gr_anc column
    // per component, joined on the conjunction so null components keep
    // equi-join semantics), so this executes through HierarchyDoubling
    // (spec plan-pinned) while DuckDB runs the raw recursion — the
    // composite path is oracle-checked every round. Tenants must not
    // cross: each (tenant, node) path_sum is the within-tenant sum.
    "q76_recursive_composite" -> QueryDef(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        t(s, dir, "part").createOrReplaceTempView("q76_part")
        s.sql("""WITH RECURSIVE nodes AS (
                |  SELECT DISTINCT CAST(p_partkey % 4 AS BIGINT) AS tenant,
                |    CAST(floor(p_partkey / 4) AS BIGINT) % 32 AS node
                |  FROM q76_part),
                |r AS (
                |  SELECT tenant, node, CAST(0 AS BIGINT) AS depth,
                |    node AS path_sum
                |  FROM nodes WHERE node = 0
                |  UNION ALL
                |  SELECT n.tenant, n.node, r.depth + 1,
                |    r.path_sum + n.node
                |  FROM nodes n JOIN r
                |    ON r.tenant = n.tenant
                |    AND r.node = CAST(floor(n.node / 2) AS BIGINT)
                |  WHERE n.node > 0)
                |SELECT tenant, node, depth, path_sum FROM r
                |ORDER BY tenant, node""".stripMargin)
      },
      Some("""WITH RECURSIVE nodes AS (
             |  SELECT DISTINCT CAST(p_partkey % 4 AS BIGINT) AS tenant,
             |    CAST(floor(p_partkey / 4) AS BIGINT) % 32 AS node
             |  FROM part),
             |r AS (
             |  SELECT tenant, node, CAST(0 AS BIGINT) AS depth,
             |    node AS path_sum
             |  FROM nodes WHERE node = 0
             |  UNION ALL
             |  SELECT n.tenant, n.node, r.depth + 1,
             |    r.path_sum + n.node
             |  FROM nodes n JOIN r
             |    ON r.tenant = n.tenant
             |    AND r.node = CAST(floor(n.node / 2) AS BIGINT)
             |  WHERE n.node > 0)
             |SELECT tenant, node, CAST(depth AS BIGINT) AS depth,
             |  CAST(path_sum AS BIGINT) AS path_sum FROM r
             |ORDER BY tenant, node""".stripMargin)),

    // ---- A4 sibling under the zstd codec (sources/Readers.zstdLines is
    // the file path; this gate proves the same codec arm in-memory so the
    // oracle never needs zstd): every line is framed, compressed, and
    // decompressed through zstd-jni before parsing — a corrupted byte,
    // wrong frame size, or codec-context misuse breaks the downstream
    // aggregate. Contexts are allocated once per PARTITION and reused
    // (per-record ctx allocation is the classic codec-in-a-loop trap; at
    // 100 TB it dominates the actual compression work).
    "q77_zstd_roundtrip" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val lines = t(s, dir, "orders").select(
          concat_ws(",", col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice")).as("line")).as[String]
        val round = lines.mapPartitions { it =>
          val cctx = new com.github.luben.zstd.ZstdCompressCtx()
          cctx.setLevel(3)
          val dctx = new com.github.luben.zstd.ZstdDecompressCtx()
          // native contexts: freed at task end, not GC finalization —
          // mapPartitions returns a lazy iterator, so a try/finally here
          // would close them before the first record is read
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit] { _ =>
              cctx.close(); dctx.close()
            })
          it.map { line =>
            val comp = cctx.compress(line.getBytes("UTF-8"))
            val n = com.github.luben.zstd.Zstd.getFrameContentSize(comp)
            new String(dctx.decompress(comp, n.toInt), "UTF-8")
          }
        }.toDF("line")
        csvStatusAgg(round)
      },
      Some(statusOracle)),

    // ---- SCD2 dimension build (slowly-changing-dimension type 2) from
    // the event log: collapse each user's consecutive runs of the same
    // event_type into validity intervals [valid_from, valid_to), open
    // interval = current version. The warehouse-standard change-capture
    // shape: one lag + one running sum + one group-by + one lead. The
    // whole chain runs on ONE hash exchange (Exchange(3) on user_id, per
    // PlanAudit, historical (probe removed after 8bdcef0), feeds
    // both ts-ordered windows, and that partitioning also
    // satisfies the coarser (user_id, version) group-by clustering and
    // the lead window — the only other exchange is the presentation
    // orderBy). Timestamps surface as epoch MICROS (integer — the
    // parquet-ns vs Spark-µs hash rule in this file's header).
    "q78_scd2" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val versioned = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("prev", lag("event_type", 1).over(w))
          .withColumn("chg",
            when(col("prev").isNull || col("prev") =!= col("event_type"), 1)
              .otherwise(0))
          .withColumn("version", sum("chg").over(w))
        val wv = Window.partitionBy("user_id").orderBy("version")
        versioned.groupBy("user_id", "version")
          .agg(min("event_type").as("event_type"),
            unix_micros(min("ts")).as("valid_from_us"))
          .withColumn("valid_to_us", lead("valid_from_us", 1).over(wv))
          .withColumn("is_current", col("valid_to_us").isNull)
          .orderBy("user_id", "version")
      },
      Some("""WITH m AS (
             |  SELECT user_id, event_id, ts, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev
             |  FROM events),
             |v AS (
             |  SELECT user_id, event_id, ts, event_type,
             |    sum(CASE WHEN prev IS NULL OR prev <> event_type
             |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS version
             |  FROM m),
             |g AS (
             |  SELECT user_id, version, min(event_type) AS event_type,
             |    epoch_us(min(ts)) AS valid_from_us
             |  FROM v GROUP BY user_id, version)
             |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
             |  valid_from_us,
             |  lead(valid_from_us) OVER (PARTITION BY user_id
             |    ORDER BY version) AS valid_to_us,
             |  lead(valid_from_us) OVER (PARTITION BY user_id
             |    ORDER BY version) IS NULL AS is_current
             |FROM g ORDER BY user_id, version""".stripMargin)),

    // ---- Interval concurrency (sweep line): max simultaneously-open
    // intervals per event_type, intervals = [ts, ts + (event_id%600+60)s).
    // The classic capacity-planning query (peak concurrent sessions /
    // connections / jobs). Encoding: +1/-1 deltas, one running sum, one
    // max — entirely shuffle-light (one exchange on event_type). Ordering
    // (t, delta ASC) closes intervals BEFORE opening new ones at the same
    // instant, so touching intervals never count as concurrent; the
    // default RANGE frame makes tied rows see the post-tie total in both
    // engines, which is the correct "after all simultaneous events" peak.
    "q79_concurrency" -> QueryDef(
      (s, dir) => {
        val iv = t(s, dir, "events").select(col("event_type"),
          unix_micros(col("ts")).as("t0"),
          (unix_micros(col("ts")) +
            (pmod(col("event_id"), lit(600)) + 60) * 1000000L).as("t1"))
        val deltas = iv.select(col("event_type"), col("t0").as("t"),
            lit(1).as("d"))
          .unionAll(iv.select(col("event_type"), col("t1").as("t"),
            lit(-1).as("d")))
        val w = Window.partitionBy("event_type").orderBy(col("t"), col("d"))
        deltas.withColumn("cur", sum("d").over(w))
          .groupBy("event_type")
          .agg(max("cur").as("max_concurrent"))
          .orderBy("event_type")
      },
      Some("""WITH iv AS (
             |  SELECT event_type, epoch_us(ts) AS t0,
             |    epoch_us(ts) + (event_id % 600 + 60) * 1000000 AS t1
             |  FROM events),
             |d AS (
             |  SELECT event_type, t0 AS t, 1 AS d FROM iv
             |  UNION ALL
             |  SELECT event_type, t1 AS t, -1 AS d FROM iv),
             |r AS (
             |  SELECT event_type, sum(d) OVER (PARTITION BY event_type
             |    ORDER BY t, d) AS cur
             |  FROM d)
             |SELECT event_type, CAST(max(cur) AS BIGINT) AS max_concurrent
             |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin))
  )
}
