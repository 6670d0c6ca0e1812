package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Aggregations.sumStable
import org.apache.spark.sql.expressions.Window

/** Join / window / sort / set-operation layer.
  *
  * The reference itself has none of these (SURVEY.md §2.5 — verified absent),
  * but its north-star extension (enriching transactions with dimension tables)
  * requires them, so they ship as first-class engine operators.
  *
  * Scale posture: dimension tables (region 5, nation 25, supplier 100,
  * customer 1.5k·sf rows) are explicitly `broadcast()` — at 100 TB the fact
  * table never shuffles for these joins; only fact⋈fact joins (lineitem ⋈
  * orders) use sort-merge/shuffled-hash on the join key. Windows partition by
  * high-cardinality keys so per-partition state stays small.
  */
object RelationalQueries extends QueryPack {

  private val stable = "CAST(CAST(SUM(CAST(%s AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"

  override def queries: Map[String, Query] = Map(
    // Fact ⋈ fact ⋈ broadcast dims: revenue by nation.
    "j_broadcast_enrich" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sumStable(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("line_count"))
        .orderBy(col("n_name"))
    }),

    // Hot-key join executed SALTED: event_type has 5 values, so a plain
    // shuffle join lands each type's entire volume on one reducer — the
    // canonical 100 TB skew killer. Spark side spreads every hot key over
    // 8 reducers (Skew.saltedInnerJoin) and builds the distinct count via
    // the skew-safe pre-distinct (Skew.distinctCountByKey); the oracle is
    // the textbook unsalted join+agg — a hash match proves salting changed
    // the distribution, not the result.
    "j_salted_skew" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val totals = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("type_total"))
      val users = graft.ops.Skew.distinctCountByKey(
        ev, Seq("event_type"), "user_id", "type_users")
      val dim = totals.join(users, Seq("event_type"))
      graft.ops.Skew.saltedInnerJoin(
        ev.select(col("event_id"), col("event_type")), dim,
        Seq("event_type"), buckets = 8)
        .select(col("event_id"), col("event_type"),
          col("type_total"), col("type_users"))
        .orderBy(col("event_id"))
    }),

    // Bloom-pruned fact⋈dim join: the dim (one customer segment) is
    // selective, so the fact side is pre-filtered through a bloom of the
    // dim keys BEFORE its shuffle — at 100 TB the orders exchange shrinks
    // to ~(match fraction + fpp) of the table while the result stays
    // provably identical to the plain join (no false negatives; false
    // positives fall out of the exact join). The oracle is that plain
    // join — a hash match proves pruning changed the shuffle, not the
    // answer.
    "j_bloom_prune" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val dim = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      graft.ops.BloomJoin.bloomPrunedJoin(o, dim, "o_custkey", "c_custkey",
          expectedItems = 100000L, fpp = 0.01)
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Left-semi: orders with at least one heavy line (EXISTS).
    "j_semi_orders" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val heavy = Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"))
      o.join(heavy, o("o_orderkey") === heavy("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Left-anti: customers with no high-value order (NOT EXISTS).
    "j_anti_customers" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val big = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .select(col("o_custkey"))
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // Window top-k: 3 highest-value orders per customer, deterministic
    // tiebreak on o_orderkey.
    "w_topk_orders" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .withColumn("rank_in_customer", row_number().over(w))
        .filter(col("rank_in_customer") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rank_in_customer"))
        .orderBy(col("o_custkey"), col("rank_in_customer"))
    }),

    // Window running aggregate: cumulative quantity within an order by line
    // number (rows-frame). l_linenumber is NOT unique in this synthetic data;
    // l_quantity as secondary sort makes tied rows value-identical, so the
    // running sum is deterministic as a multiset.
    "w_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("running_qty", sum(col("l_quantity")).over(w))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // RANGE frame over event time: 7-day trailing spend per customer —
    // value-based window bounds (peers by ordering value, not row
    // position), the frame type ROWS windows can't express. Ordering key
    // is integral epoch seconds so both engines group peers identically;
    // the windowed sum rides DECIMAL(38,10) for cross-engine exactness.
    "w_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("__sec"))
        .rangeBetween(-6L * 86400, 0)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          unix_timestamp(col("o_orderdate")).as("__sec"), col("o_totalprice"))
        .withColumn("trailing_7d_total",
          sum(col("o_totalprice").cast("decimal(38,10)")).over(w)
            .cast("string").cast("double"))
        .select(col("o_orderkey"), col("o_custkey"), col("trailing_7d_total"))
        .orderBy(col("o_orderkey"))
    }),

    // Global sort + limit with full deterministic tiebreak.
    "s_topn_lines" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)),

    // Set ops: UNION (distinct) / INTERSECT / EXCEPT over customer key sets.
    "set_union" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val rich = c.filter(col("c_acctbal") > 9500).select(col("c_custkey"))
      val building = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      rich.union(building).distinct().orderBy(col("c_custkey"))
    }),

    "set_intersect" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val y1995 = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
      val y2000 = o.filter(year(col("o_orderdate")) === 2000).select(col("o_custkey"))
      y1995.intersect(y2000).orderBy(col("o_custkey"))
    }),

    "set_except" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer").select(col("c_custkey"))
      val active = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 300000).select(col("o_custkey"))
      c.except(active.withColumnRenamed("o_custkey", "c_custkey"))
        .orderBy(col("c_custkey"))
    }),

    // Hierarchical aggregates: ROLLUP / CUBE (keys coalesced so the subtotal
    // marker rows are null-free and sortable).
    "g_rollup_sales" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
          col("o_totalprice"))
        .rollup(col("y"), col("m"))
        .agg(sumStable(col("o_totalprice")).as("total_sales"),
          count(lit(1)).as("order_count"))
        .select(coalesce(col("y"), lit(-1)).as("y"),
          coalesce(col("m"), lit(-1)).as("m"),
          col("total_sales"), col("order_count"))
        .orderBy(col("y"), col("m"))),

    "g_cube_status" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("order_count"),
          sumStable(col("o_totalprice")).as("total_sales"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          col("order_count"), col("total_sales"))
        .orderBy(col("o_orderpriority"), col("o_orderstatus"))),

    // TPC-H Q3 shape: selective dim filter → fact joins → agg → top-10.
    "q3_shipping" -> ((s, dir) => {
      val cutoff = lit("1998-01-01").cast("timestamp")
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      val li = Tables.load(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sumStable(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: snowflake join with local-supplier constraint.
    "q5_nation_volume" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
      val n = Tables.load(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey")
          && sup("s_nationkey") === c("c_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sumStable(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }))

  override def oracleSql: Map[String, String] = Map(
    "j_broadcast_enrich" ->
      s"""SELECT n_name,
         |  ${stable.format("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  COUNT(*) AS line_count
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "j_salted_skew" ->
      """WITH dim AS (SELECT event_type, count(*) AS type_total,
        |    count(DISTINCT user_id) AS type_users
        |  FROM events GROUP BY 1)
        |SELECT event_id, event_type, type_total, type_users
        |FROM events JOIN dim USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "j_bloom_prune" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY o_orderkey""".stripMargin,

    "j_semi_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |ORDER BY o_orderkey""".stripMargin,

    "j_anti_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "w_topk_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank_in_customer FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank_in_customer
        |  FROM orders)
        |WHERE rank_in_customer <= 3
        |ORDER BY o_custkey, rank_in_customer""".stripMargin,

    "w_running_total" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  SUM(l_quantity) OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "w_range_frame" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |    RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
        |    AS trailing_7d_total
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "s_topn_lines" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,

    "set_union" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 9500
        |UNION
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,

    "set_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000
        |ORDER BY o_custkey""".stripMargin,

    "set_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |ORDER BY c_custkey""".stripMargin,

    "g_rollup_sales" ->
      s"""SELECT COALESCE(y, -1) AS y, COALESCE(m, -1) AS m,
         |  total_sales, order_count
         |FROM (
         |  SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
         |         CAST(month(o_orderdate) AS INTEGER) AS m,
         |    ${stable.format("o_totalprice")} AS total_sales,
         |    COUNT(*) AS order_count
         |  FROM orders GROUP BY ROLLUP (y, m))
         |ORDER BY y, m""".stripMargin,

    "g_cube_status" ->
      s"""SELECT COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
         |  COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
         |  order_count, total_sales
         |FROM (
         |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS order_count,
         |    ${stable.format("o_totalprice")} AS total_sales
         |  FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus))
         |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,

    "q3_shipping" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  ${stable.format("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_nation_volume" ->
      s"""SELECT n_name,
         |  ${stable.format("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
}
