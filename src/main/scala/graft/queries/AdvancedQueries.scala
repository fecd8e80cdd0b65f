package graft.queries

import graft.Oracle._
import graft.Tables
import graft.functions.Aggregators
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced relational surface (SURVEY.md §2.2 rows the first wave didn't
  * cover): non-equi/range join, as-of join, GROUPING SETS, pivot, exact
  * percentiles, gaps-and-islands sessionization, custom typed UDAF.
  */
object AdvancedQueries {

  /** Range (theta) join: fact rows matched to a tier dimension by value
    * interval. Scale: the tier table is tiny and broadcast, so the
    * non-equi predicate evaluates as a BroadcastNestedLoopJoin — the only
    * sane plan for interval dims; never range-join two big sides without
    * bucketing the interval space first. */
  def q38RangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tiers = broadcast(Seq(
      ("small", 0.0, 10.0), ("mid", 10.0, 25.0), ("large", 25.0, 60.0)
    ).toDF("tier", "lo", "hi"))
    Tables.lineitem(s, dir)
      .join(tiers, col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("tier"))
      // cents grid: 3 tiers over ALL of lineitem make each tier_value a
      // near-global price sum — ~4e8 rows × ~4e4 avg × 1e6 ≈ 1.5e19 > 2⁶³
      // at sf100 (caught live by the r12 sf100 sweep, the q198/q12 class);
      // l_extendedprice has exactly 2 decimals, so s=2 is LOSSLESS
      .agg(count(lit(1)).as("n_items"),
        dsumScaled(col("l_extendedprice"), 2).as("tier_value"))
      .orderBy(col("tier"))
  }

  val q38Sql: String =
    s"""SELECT tier, COUNT(*) AS n_items,
      |  ${dsumScaledSql("l_extendedprice", 2)} AS tier_value
      |FROM lineitem JOIN (VALUES ('small', 0.0, 10.0), ('mid', 10.0, 25.0),
      |  ('large', 25.0, 60.0)) t(tier, lo, hi)
      |  ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY tier ORDER BY tier""".stripMargin

  /** As-of join: for every `error` event, the most recent `click` of the
    * same user at or before it. Implemented as the union-free single-pass
    * pattern: one window over (user, time) with clicks ordered before
    * errors at equal timestamps, carrying max(click ts) forward — no join
    * at all, one shuffle by user.
    * Scale: this beats the naive join+filter+argmax (which explodes to
    * |errors|·|clicks| per user); the window is the canonical distributed
    * as-of plan when both sides share a partition key. */
  def q39AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("error", "click"))
      .withColumn("is_click", (col("event_type") === "click").cast("int"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_click").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("prev_click_ts",
        max(when(col("is_click") === 1, col("ts"))).over(w))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"), col("prev_click_ts"))
      .orderBy(col("event_id"))
  }

  val q39Sql: String =
    """SELECT e.event_id, e.user_id, e.ts,
      |  (SELECT max(c.ts) FROM events c
      |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
      |     AND c.ts <= e.ts) AS prev_click_ts
      |FROM events e WHERE e.event_type = 'error'
      |ORDER BY e.event_id""".stripMargin

  /** GROUPING SETS — the SQL-side grouping surface beyond rollup/cube. */
  def q40GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
    s.sql(
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
         |  COALESCE(l_linestatus, 'ALL') AS ls,
         |  COUNT(*) AS n, ${dsumSparkSql("l_quantity")} AS qty
         |FROM lineitem_gs
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY rf, ls""".stripMargin)
  }

  val q40Sql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      |  COALESCE(l_linestatus, 'ALL') AS ls,
      |  COUNT(*) AS n, ${dsumSql("l_quantity")} AS qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY rf, ls""".stripMargin

  /** Pivot (BigQuery-style wide aggregation): order counts by priority ×
    * status. Explicit pivot values keep the schema static (required for a
    * fixed-schema engine; dynamic pivot would need a pre-pass). */
  def q41Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
      .orderBy(col("o_orderpriority"))

  val q41Sql: String =
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Exact per-group quartiles — quantile_cont semantics, computed by
    * rank-and-interpolate over `Ranks.withGroupRowNumber` rather than
    * Spark's `percentile` aggregate (whose buffer holds every distinct
    * group value in executor memory: the last memory-unbounded exact
    * aggregate this registry had; a 100 TB priority group would OOM
    * it). Two fetched rows per (group, quartile), everything else is
    * bounded aggregates; RanksSpec proves equality against the
    * buffer-based form at gate scale. COUNT(*) per group comes free
    * with the quantiles (`__n` — a rollup of the bucket-counts
    * aggregate the ranking already runs), so there is no separate
    * size pass or join here. */
  def q42Percentiles(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    val q = graft.operators.Ranks.exactGroupQuantiles(base,
      col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"),
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
    q.groupBy(col("__grp"))
      .agg(round(min(when(col("__target") === "p25", col("__q"))), 4).as("p25"),
        round(min(when(col("__target") === "p50", col("__q"))), 4).as("p50"),
        round(min(when(col("__target") === "p75", col("__q"))), 4).as("p75"),
        min(col("__n")).as("n"))
      .select(col("__grp").as("o_orderpriority"),
        col("p25"), col("p50"), col("p75"), col("n"))
      .orderBy(col("o_orderpriority"))
  }

  val q42Sql: String =
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
      |  round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
      |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Batch sessionization (gaps-and-islands): a new session starts after
    * a >30-min silence per user. Session ids by cumulative sum over a
    * lag-derived boundary flag — one shuffle by user; the streaming twin
    * is session_window (graft.streaming). */
  def q43Sessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 30L * 60 * 1000, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_session")).over(cum))
      .groupBy(col("user_id"))
      .agg(max(col("sid")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val q43Sql: String =
    """SELECT user_id, CAST(MAX(sid) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      CASE WHEN prev_ts IS NULL
      |        OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS new_session
      |    FROM (
      |      SELECT user_id, ts, event_id,
      |        LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |      FROM events)))
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Custom typed UDAF: modular product (no Spark built-in). Exact
    * integer math, commutative — identical result under any partial/final
    * aggregation order, which is what makes it cross-engine verifiable
    * (DuckDB folds the same values with list_reduce). */
  def q44UdafModProduct(s: SparkSession, dir: String): DataFrame = {
    val modprod = udaf(Aggregators.ModProduct)
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(modprod(col("l_orderkey")).as("modprod_orderkey"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  val q44Sql: String =
    s"""SELECT l_returnflag,
      |  list_reduce(list_prepend(1, list(l_orderkey % ${Aggregators.ModP})),
      |    (a, b) -> (a * b) % ${Aggregators.ModP}) AS modprod_orderkey,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Array-function battery over the embedding column: sort/min/max/
    * element access — the ArrayType scalar surface. Values are exact
    * element picks (no FP accumulation), so rounding is only for display
    * stability. */
  def q45ArrayFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(col("vec_id") < 100)
      .select(col("vec_id"),
        size(col("embedding")).as("n"),
        round(array_max(col("embedding")).cast("double"), 5).as("mx"),
        round(array_min(col("embedding")).cast("double"), 5).as("mn"),
        round(element_at(array_sort(col("embedding")), 10).cast("double"), 5).as("sorted_10th"),
        round(element_at(col("embedding"), 1).cast("double") +
          element_at(col("embedding"), 2).cast("double") +
          element_at(col("embedding"), 3).cast("double"), 5).as("head3_sum"))
      .orderBy(col("vec_id"))

  val q45Sql: String =
    """SELECT vec_id, len(embedding) AS n,
      |  round(CAST(list_max(embedding) AS DOUBLE), 5) AS mx,
      |  round(CAST(list_min(embedding) AS DOUBLE), 5) AS mn,
      |  round(CAST(list_sort(embedding)[10] AS DOUBLE), 5) AS sorted_10th,
      |  round(CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
      |    + CAST(embedding[3] AS DOUBLE), 5) AS head3_sum
      |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin

  /** String-similarity (edit distance): near-matching name pairs. Both
    * engines implement classic Levenshtein DP — exact integers. */
  def q47Levenshtein(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
    n.as("a").join(n.as("b"), col("a.n_nationkey") < col("b.n_nationkey"))
      .select(col("a.n_name").as("name_a"), col("b.n_name").as("name_b"),
        levenshtein(col("a.n_name"), col("b.n_name")).as("dist"))
      .filter(col("dist") <= 2)
      .orderBy(col("name_a"), col("name_b"))
  }

  val q47Sql: String =
    """SELECT a.n_name AS name_a, b.n_name AS name_b,
      |  levenshtein(a.n_name, b.n_name) AS dist
      |FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
      |WHERE levenshtein(a.n_name, b.n_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  /** RANGE window frame (value-based, not row-based): per customer, the
    * decimal-exact sum of orders within 1000 of the current order's
    * price. Peer rows (ties) are all included by RANGE semantics, making
    * the result independent of tie order — deterministic without a total
    * sort key. */
  def q48RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
      .rangeBetween(-1000L, 0L)
    Tables.orders(s, dir)
      .filter(col("o_custkey") <= 20)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("nearby_sum",
        sum(col("o_totalprice").cast("decimal(30,2)")).over(w).cast("double"))
      .orderBy(col("o_orderkey"))
  }

  val q48Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_totalprice
      |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS nearby_sum
      |FROM orders WHERE o_custkey <= 20 ORDER BY o_orderkey""".stripMargin

  /** SQL front-end surface: CTE + correlated scalar subquery through
    * spark.sql — Catalyst de-correlates the subquery into an outer join
    * + aggregate (visible in the plan), so "SQL a warehouse user would
    * write" still gets a distributed plan. */
  def q59SqlCte(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_cte")
    Tables.orders(s, dir).createOrReplaceTempView("orders_cte")
    s.sql(
      """WITH big_cust AS (
        |  SELECT c_custkey, c_name FROM customer_cte WHERE c_acctbal > 5000)
        |SELECT b.c_name,
        |  (SELECT COUNT(*) FROM orders_cte o WHERE o.o_custkey = b.c_custkey) AS n_orders
        |FROM big_cust b ORDER BY b.c_name LIMIT 100""".stripMargin)
  }

  val q59Sql: String =
    """WITH big_cust AS (
      |  SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000)
      |SELECT b.c_name,
      |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = b.c_custkey) AS n_orders
      |FROM big_cust b ORDER BY b.c_name LIMIT 100""".stripMargin

  /** Sketch-based percentiles (approx_percentile, GK-family): the
    * constant-memory scale path q42's exact version points at.
    *
    * Oracle (round-4 verdict item 9): below the sketch's accuracy
    * parameter the GK summary holds every sample uncompressed, so its
    * answer is EXACT — and Spark's exact-path rank rule (smallest
    * element with rank ≥ ⌈p·n⌉) is precisely DuckDB `quantile_disc`.
    * Past accuracy the sketch answers within rank error n/10000 — an
    * arrival-order-dependent value no cross-engine oracle can model.
    *
    * SELF-REPORTING REGIME (round-8 verdict item 4, q230's `converged`
    * pattern): the query emits its regime as data — `exact_regime`
    * (1 iff the group is STRICTLY under the sketch accuracy: Spark's
    * QuantileSummaries may compress at exactly n = accuracy, so
    * `n < 10000`, not `<=`, is the provably-uncompressed bound —
    * round-9 advice) and `rank_err_bound` (the documented GK bound
    * ⌊n/accuracy⌋ in ranks) — both derived from the exact group count
    * n, hence bit-identical in both engines at ANY scale. The
    * percentile columns are emitted only in the exact regime (NULL
    * once approximate — the sketch still computes them; the gate just
    * doesn't pretend DuckDB can predict an order-dependent sketch).
    * Result: PASS-or-bug at every SF with no sweep special-casing;
    * SelfConsistencySpec value-gates the approximate regime against
    * the rank bound. */
  def q58ApproxPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.75), 10000)").as("pcts"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority"),
        (col("n") < 10000).cast("long").as("exact_regime"),
        floor(col("n") / lit(10000)).cast("long").as("rank_err_bound"),
        when(col("n") < 10000, element_at(col("pcts"), 1)).as("p25"),
        when(col("n") < 10000, element_at(col("pcts"), 2)).as("p50"),
        when(col("n") < 10000, element_at(col("pcts"), 3)).as("p75"),
        col("n"))
      .orderBy(col("o_orderpriority"))

  val q58Sql: String =
    """SELECT o_orderpriority,
      |  CAST(n < 10000 AS BIGINT) AS exact_regime,
      |  n // 10000 AS rank_err_bound,
      |  CASE WHEN n < 10000 THEN p25 END AS p25,
      |  CASE WHEN n < 10000 THEN p50 END AS p50,
      |  CASE WHEN n < 10000 THEN p75 END AS p75,
      |  n
      |FROM (
      |  SELECT o_orderpriority,
      |    quantile_disc(o_totalprice, 0.25) AS p25,
      |    quantile_disc(o_totalprice, 0.50) AS p50,
      |    quantile_disc(o_totalprice, 0.75) AS p75,
      |    COUNT(*) AS n
      |  FROM orders GROUP BY 1)
      |ORDER BY o_orderpriority""".stripMargin

  /** MapType surface: build a map from row values (str_to_map), explode
    * it, aggregate over (key, value) pairs. The oracle reproduces the
    * same rows without map types — proving the map round-trip loses
    * nothing. */
  def q49MapOps(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("tag",
        concat(lit("status:"), col("o_orderstatus"), lit(",prio:"), col("o_orderpriority")))
      .select(explode(expr("str_to_map(tag, ',', ':')")).as(Seq("key", "value")))
      .groupBy(col("key"), col("value"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("key"), col("value"))

  val q49Sql: String =
    """SELECT key, value, COUNT(*) AS n FROM (
      |  SELECT 'status' AS key, o_orderstatus AS value FROM orders
      |  UNION ALL
      |  SELECT 'prio' AS key, o_orderpriority AS value FROM orders)
      |GROUP BY key, value ORDER BY key, value""".stripMargin

  /** Full analytic-window battery in one pass: ntile, percent_rank,
    * cume_dist, lag, lead, first_value — the window functions q13/q14
    * don't already cover. Ordering key (o_totalprice, o_orderkey) is
    * unique, so every function is deterministic and the default
    * RANGE-to-current-row frame of first_value agrees across engines.
    * Scale: one shuffle on the partition key; all six functions share a
    * single Window physical operator (same partitioning + ordering). */
  def q65WindowBattery(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first(col("o_orderkey")).over(w).as("cheapest_key"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  val q65Sql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  ntile(4) OVER w AS quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cdist,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  first_value(o_orderkey) OVER w AS cheapest_key
      |FROM orders WHERE o_orderkey % 97 = 0
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** Unpivot (wide → long): aggregate three per-flag metrics as columns,
    * then stack() them into (metric, value) rows — Spark's unpivot
    * primitive, mirrored by a UNION ALL oracle. All values cast BIGINT
    * (stack needs uniform column types; the hash gate needs no INT). */
  def q66Unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        max(col("l_linenumber")).cast("bigint").as("max_line"))
      .selectExpr("l_returnflag",
        "stack(3, 'n_rows', n_rows, 'n_orders', n_orders, 'max_line', max_line) AS (metric, value)")
      .orderBy(col("l_returnflag"), col("metric"))

  /** Skew-safe salted join as a registry operator: lineitem⋈orders
    * through ScaleJoins.saltedJoin (hot-key rows spread over 8 salt
    * sub-keys, dimension side replicated across them), then a per-
    * priority rollup. The oracle is the PLAIN join — proving the salt
    * never leaks into results, which is the whole contract of the
    * technique. Scale: turns one straggler reducer per hot key into
    * `salt` parallel ones; AQE skew-join does this adaptively for SMJ,
    * this explicit form covers aggregations and non-AQE paths. */
  def q67SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val left = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val right = Tables.orders(s, dir)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    graft.operators.ScaleJoins.saltedJoin(left, right, "okey",
        salt = 8, saltSource = col("l_quantity"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("total_qty"))
      .orderBy(col("o_orderpriority"))
  }

  val q67Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
      |  ${dsumSql("l_quantity")} AS total_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val q66Sql: String =
    """SELECT l_returnflag, metric, value FROM (
      |  SELECT l_returnflag, 'n_rows' AS metric, COUNT(*) AS value
      |  FROM lineitem GROUP BY l_returnflag
      |  UNION ALL
      |  SELECT l_returnflag, 'n_orders', COUNT(DISTINCT l_orderkey)
      |  FROM lineitem GROUP BY l_returnflag
      |  UNION ALL
      |  SELECT l_returnflag, 'max_line', CAST(MAX(l_linenumber) AS BIGINT)
      |  FROM lineitem GROUP BY l_returnflag)
      |ORDER BY l_returnflag, metric""".stripMargin

  // ---------------------------------------------------------------------
  // q109 — AQE skew-join split (the adaptive twin of q67's manual salt)

  /** The same hot-key join problem q67 solves by hand, handled by AQE's
    * runtime skew split: ~70 % of lineitem rows collapse onto one join
    * key (every partkey < 70 % of the key space maps to 0), the
    * dimension side keeps one row per key, and the merge-hinted SMJ
    * would send the hot key to a single straggler reducer. With skew
    * handling on, AQE measures the built shuffle, splits the oversized
    * partition into multiple reader chunks, and replicates the matching
    * dimension rows — `SortMergeJoin(skew=true)` in the final plan,
    * asserted by PlanSpec. Skew thresholds are lowered only around
    * materialization (gate shuffles are KB-sized; production keeps the
    * 256 MB default) and restored in a finally. The oracle computes the
    * same CASE-mapped join — the split must never change results. */
  def q109SkewJoinAqe(s: SparkSession, dir: String): DataFrame = {
    graft.Sessions.withConf(s,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16KB") {
      val out = q109Inner(s, dir)
      val schema = out.schema
      val rows = java.util.Arrays.asList(out.collect(): _*)
      s.createDataFrame(rows, schema)
    }
  }

  /** The lazy skewed-join plan (shared with PlanSpec, which manages the
    * skew confs itself and asserts `skew=true` on the final plan). */
  def q109Inner(s: SparkSession, dir: String): DataFrame = {
    val hotCut = 14000 // ~70 % of the sf0.1 part key space
    def jk(c: org.apache.spark.sql.Column) =
      when(c < hotCut, lit(0L)).otherwise(c.cast("long"))
    // AQE splits a skewed reduce partition along MAP-output boundaries
    // (PartialReducerPartitionSpec), so the join shuffle needs >1 mapper
    // to have anything to split. The gate table is one unsplittable
    // parquet row group → exactly one mapper; the round-robin
    // repartition models the thousands of scan tasks a 100 TB fact
    // table feeds the shuffle with. Production never needs this.
    val left = Tables.lineitem(s, dir)
      .repartition(8)
      .select(jk(col("l_partkey")).as("jk"), col("l_quantity"))
    // the dimension is one CANONICAL source row per key — p_partkey 1
    // represents the hot key, every key ≥ hotCut represents itself — so
    // the dim side is a pure projected scan with no aggregate between
    // its join shuffle and the join: AQE's OptimizeSkewedJoin only
    // matches SMJ(Sort(Shuffle), Sort(Shuffle)), and an agg node there
    // (which AQE keeps, reusing the agg's own exchange) blocks the split
    val dim = Tables.part(s, dir)
      .filter(col("p_partkey") >= hotCut || col("p_partkey") === 1)
      .select(jk(col("p_partkey")).as("jk"), col("p_partkey").as("rep_key"))
    left.hint("merge").join(dim, "jk")
      .groupBy((col("jk") === 0).as("is_hot"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("total_qty"),
        max(col("rep_key")).as("max_rep"))
      .orderBy(col("is_hot"))
  }

  val q109Sql: String =
    s"""WITH l AS (
      |  SELECT CASE WHEN l_partkey < 14000 THEN 0 ELSE l_partkey END AS jk,
      |    l_quantity
      |  FROM lineitem),
      |d AS (
      |  SELECT CASE WHEN p_partkey < 14000 THEN 0 ELSE p_partkey END AS jk,
      |    p_partkey AS rep_key
      |  FROM part WHERE p_partkey >= 14000 OR p_partkey = 1)
      |SELECT l.jk = 0 AS is_hot, COUNT(*) AS n_rows,
      |  ${dsumSql("l_quantity")} AS total_qty,
      |  MAX(rep_key) AS max_rep
      |FROM l JOIN d ON l.jk = d.jk
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q226 — bucketed co-located join (zero-exchange big-big join)

  /** The §4 write-time answer to repeated big-big joins, under the hash
    * gate: both sides are written `bucketBy(16, key)` + `sortBy` into a
    * temp-located database, and the join then plans as a sort-merge
    * over co-located buckets with ZERO shuffle of either side — the
    * decisive layout at 100 TB, where re-shuffling a fact table per
    * join is the dominant cost (a merge hint keeps the gate-sized
    * sides from broadcasting, so the big-big shape is what runs;
    * PlanSpec asserts SortMergeJoin and no hash-partitioning Exchange
    * on this very DataFrame). The aggregate over the
    * joined rows is what the oracle replays from the raw tables, so
    * the gate also proves bucketed write+read loses nothing.
    *
    * Same-session re-runs overwrite the bucketed tables in place; the
    * write cost is the point (pay once, join forever). */
  def q226BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // Create the warehouse dir only when the database does not yet
    // exist (repeat invocations — bench loops — reuse the registered
    // location instead of leaking one temp dir per run), and register
    // it for at-exit deletion like the other staged layouts.
    if (!s.catalog.databaseExists("q226")) {
      val loc = java.nio.file.Files.createTempDirectory("q226_wh").toString
      s.sql(s"CREATE DATABASE q226 LOCATION '$loc'")
      graft.Staging.retireOnReuse("q226_wh", loc)
    }
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .write.mode("overwrite").bucketBy(16, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("q226.li_b")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite").bucketBy(16, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("q226.ord_b")
    q226JoinPlan(s)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        graft.Oracle.lsum(col("l_quantity").cast("long")).as("sum_qty"),
        graft.Oracle.lsum(col("cents")).as("sum_cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** The joined (pre-aggregate) bucketed plan: merge-hinted, so it
    * plans as a sort-merge over the co-located buckets whatever the
    * broadcast threshold. The bucketed tables must exist (written by
    * [[q226BucketedJoin]]). */
  def q226JoinPlan(s: SparkSession): DataFrame =
    s.table("q226.li_b").hint("merge")
      .join(s.table("q226.ord_b"), col("l_orderkey") === col("o_orderkey"))

  val q226Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
