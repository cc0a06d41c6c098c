package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.MergeInto
import graft.io.Sources

/** Deep relational surface: the multiway star join, CDC merge-apply,
  * SQL-registered typed UDAF, deterministic weighted sampling, and an
  * unrolled graph-propagation query — each with an independent DuckDB
  * oracle.
  */
object RelationalQueries extends QueryGroup {

  /** TPC-H Q5 shape: revenue by nation inside one region, where the
    * line item's supplier and the ordering customer share a nation —
    * the canonical 6-table star join.
    *
    * Scale: region/nation/supplier are broadcast (small dims); the
    * only shuffles are customer⋈orders and orders⋈lineitem on their
    * join keys, then the final tiny nation rollup. Revenue accumulates
    * in DECIMAL (exact, order-independent). */
  private def q5StarJoin(s: SparkSession, dir: String): DataFrame = {
    val region = Sources.table(s, dir, "region")
      .filter(col("r_name") === "ASIA")
    val nation = Sources.table(s, dir, "nation")
    val supplier = Sources.table(s, dir, "supplier")
    val customer = Sources.table(s, dir, "customer")
    val orders = Sources.table(s, dir, "orders")
    val lineitem = Sources.table(s, dir, "lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(28,6)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  private val q5Oracle: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |                AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |             AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** TPC-H Q10 shape: revenue lost to returned items per customer over
    * one quarter, top 20 — the "who should the support team call" query,
    * and the canonical selective-fact/ranked-dim report.
    *
    * Scale: the two selective predicates (order-date quarter, return
    * flag) are pushed into their parquet scans BEFORE the join — the
    * quarter keeps ~4% of orders and the flag a third of lineitem, so the
    * orders⋈lineitem shuffle moves a small fraction of either table.
    * Customer and nation are broadcast; revenue accumulates in DECIMAL
    * (exact, order-independent) and the top-20 is a bounded TakeOrdered,
    * never a global sort. */
  private def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val ord = Sources.table(s, dir, "orders")
      .filter(col("o_orderdate").cast("date") >= lit("1996-01-01") &&
        col("o_orderdate").cast("date") < lit("1996-04-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Sources.table(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1) - col("l_discount")).cast("decimal(4,2)")).as("rev"))
    val cust = Sources.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val nat = Sources.table(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("revenue"))
  }

  private val q10Oracle: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |           CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
      |    AS revenue
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  /** Snapshot diff ([[MergeInto.diffSnapshots]]): derive the I/U/D
    * changeset between two deterministic views of `events` — the old
    * snapshot drops every event_id ≡ 6 (mod 7) (those become inserts),
    * the new snapshot drops every event_id ≡ 4 (mod 5) (deletes) and
    * bumps value by 1 for event_id ≡ 0 (mod 11) (updates); unchanged
    * rows are suppressed by the null-safe payload comparison. */
  private def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val e = Sources.table(s, dir, "events")
    val oldSnap = e.filter(col("event_id") % 7 =!= 6)
      .select(col("event_id"), col("value"))
    val newSnap = e.filter(col("event_id") % 5 =!= 4)
      .select(col("event_id"),
        when(col("event_id") % 11 === 0, col("value") + lit(1.0))
          .otherwise(col("value")).as("value"))
    graft.etl.MergeInto.diffSnapshots(oldSnap, newSnap, "event_id",
        Seq("value"))
      .orderBy("event_id")
  }

  private val snapshotDiffOracle: String =
    """WITH o AS (SELECT event_id, value FROM events WHERE event_id % 7 <> 6),
      |n AS (SELECT event_id,
      |        CASE WHEN event_id % 11 = 0 THEN value + 1.0 ELSE value END
      |          AS value
      |      FROM events WHERE event_id % 5 <> 4),
      |j AS (SELECT COALESCE(n.event_id, o.event_id) AS event_id,
      |        CASE WHEN o.event_id IS NULL THEN 'I'
      |             WHEN n.event_id IS NULL THEN 'D'
      |             WHEN o.value IS NOT DISTINCT FROM n.value THEN NULL
      |             ELSE 'U' END AS op,
      |        n.value AS value
      |      FROM o FULL OUTER JOIN n ON o.event_id = n.event_id)
      |SELECT event_id, op, value FROM j WHERE op IS NOT NULL
      |ORDER BY event_id""".stripMargin

  /** CDC merge-apply over the customer dimension: the day's change set
    * (derived deterministically from orders — latest order per customer
    * sets the new balance; every 7th key is a delete; every 11th key
    * re-enters as an insert under a shifted key) applied with ONE
    * full-outer join ([[MergeInto.applyChanges]]). */
  private def mergeApply(s: SparkSession, dir: String): DataFrame = {
    val base = Sources.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val latest = Sources.table(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max_by(struct(col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice")), struct(col("o_orderdate"), col("o_orderkey")))
        .getField("o_totalprice").as("new_bal"))
    val changes = latest.select(
      when(col("o_custkey") % 11 === 0, col("o_custkey") + 1000000L)
        .otherwise(col("o_custkey")).as("c_custkey"),
      when(col("o_custkey") % 7 === 0, lit("D"))
        .when(col("o_custkey") % 11 === 0, lit("I"))
        .otherwise(lit("U")).as("op"),
      concat(lit("cust_"), col("o_custkey").cast("string")).as("c_name"),
      col("new_bal").as("c_acctbal"))
    MergeInto.applyChanges(base, changes, "c_custkey",
        Seq("c_name", "c_acctbal"))
      .orderBy("c_custkey")
  }

  private val mergeApplyOracle: String =
    """WITH ranked AS (
      |  SELECT o_custkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders),
      |latest AS (
      |  SELECT o_custkey, o_totalprice AS new_bal FROM ranked WHERE rn = 1),
      |changes AS (
      |  SELECT CASE WHEN o_custkey % 11 = 0 THEN o_custkey + 1000000
      |              ELSE o_custkey END AS c_custkey,
      |         CASE WHEN o_custkey % 7 = 0 THEN 'D'
      |              WHEN o_custkey % 11 = 0 THEN 'I'
      |              ELSE 'U' END AS op,
      |         'cust_' || CAST(o_custkey AS VARCHAR) AS c_name,
      |         new_bal AS c_acctbal
      |  FROM latest)
      |SELECT COALESCE(b.c_custkey, c.c_custkey) AS c_custkey,
      |  CASE WHEN c.op IN ('U', 'I') THEN c.c_name ELSE b.c_name END
      |    AS c_name,
      |  CASE WHEN c.op IN ('U', 'I') THEN c.c_acctbal ELSE b.c_acctbal END
      |    AS c_acctbal
      |FROM customer b FULL OUTER JOIN changes c USING (c_custkey)
      |WHERE c.op IS NULL OR c.op <> 'D'
      |ORDER BY c_custkey""".stripMargin

  /** Geometric mean per event type via the SQL-registered typed UDAF
    * ([[graft.functions.GeoMeanUdaf]]) — the query text is plain SQL,
    * proving the §2.10 extension surface reaches analysts, not just Scala
    * callers.
    * Rounded to 6 dp on both engines (ln/exp are the one place the
    * repo's exact-arithmetic rules can't apply). */
  private def udafGeomean(s: SparkSession, dir: String): DataFrame = {
    Sources.table(s, dir, "events").createOrReplaceTempView("events_gm")
    // value > 0 on BOTH sides: the geometric mean is undefined at 0 and
    // DuckDB's ln(0) raises (seen at sf0.1); the UDAF's skip-nonpositive
    // path is covered by its own spec
    s.sql(
      """SELECT event_type, round(geomean(value), 6) AS gm,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events_gm WHERE value > 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  private val geomeanOracle: String =
    """SELECT event_type, round(exp(avg(ln(value))), 6) AS gm,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM events WHERE value > 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Deterministic weighted sampling: keep each event with probability
    * proportional to its value — implemented as a pure hash threshold
    * (md5 → 32-bit uniform u; keep iff u·500 < value), so the sample is
    * identical across engines, runs, and cluster sizes, and recomputable
    * (no stored random state). u = hash32/2³² is EXACT in double
    * (power-of-two denominator), so the comparison is bitwise. */
  private def weightedSample(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_id"),
        (conv(substring(md5(col("event_id").cast("string").cast("binary")),
          1, 8), 16, 10).cast("long") / lit(4294967296.0)).as("u"),
        col("value"))
      .filter(col("u") * 500 < col("value"))
      .select(col("event_id"), col("u"))
      .orderBy("event_id")

  private val weightedSampleOracle: String =
    """WITH e AS (SELECT event_id, value,
      |    CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) / 4294967296.0 AS u
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_id, u FROM e WHERE u * 500 < value
      |ORDER BY event_id""".stripMargin

  /** Two unrolled rounds of damped rank propagation over the bipartite
    * customer→supplier purchase graph (who buys from whom, via
    * orders⋈lineitem) — ENTIRELY in integer arithmetic (ranks scaled by
    * 10⁶, contributions floor-divided), so the fixed-point result is
    * exact and engine-independent, unlike float PageRank.
    *
    * Scale: the edge list is distinct (c,s) pairs — one shuffle; each
    * round is a keyed join + hash aggregate on edge endpoints (the
    * standard distributed PageRank round). Unrolling two rounds keeps
    * the oracle expressible; the loop form adds rounds without changing
    * any per-round plan.
    *
    * The edge list is lazily localCheckpoint'ed (the g_pagerank_int
    * pattern): FOUR consumers reference it (both degree rollups + both
    * round joins), and re-running the orders⋈lineitem join + distinct
    * per consumer is the rebuild the cached-edge-table discipline
    * exists to kill — one materialization of the small distinct pair
    * set replaces them; blocks are ContextCleaner-reclaimed. */
  private def rankPropagation(s: SparkSession, dir: String): DataFrame = {
    val edges = Sources.table(s, dir, "lineitem")
      .join(Sources.table(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct()
      .localCheckpoint(false)
    val outC = edges.groupBy(col("c")).agg(count(lit(1)).as("deg_c"))
    // round 1: every customer starts at 1_000_000; suppliers collect
    val r1 = edges.join(outC, Seq("c"))
      .groupBy(col("sk"))
      .agg(sum(floor(lit(1000000L) * 85 / (col("deg_c") * 100)))
        .as("in_s"))
      .select(col("sk"), (lit(150000L) + col("in_s")).as("r_s"))
    val outS = edges.groupBy(col("sk")).agg(count(lit(1)).as("deg_s"))
    // round 2: suppliers push back to their customers
    val r2 = edges
      .join(r1, Seq("sk")).join(outS, Seq("sk"))
      .groupBy(col("c"))
      .agg(sum(floor(col("r_s") * 85 / (col("deg_s") * 100))).as("in_c"))
      .select(col("c").as("custkey"),
        (lit(150000L) + col("in_c")).as("rank_scaled"))
    r2.orderBy(col("rank_scaled").desc, col("custkey").asc).limit(50)
  }

  private val rankOracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |outc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS deg_c
      |         FROM edges GROUP BY 1),
      |r1 AS (SELECT sk, 150000 + SUM(CAST(FLOOR(
      |           1000000.0 * 85 / (deg_c * 100)) AS BIGINT)) AS r_s
      |       FROM edges JOIN outc USING (c) GROUP BY sk),
      |outs AS (SELECT sk, CAST(COUNT(*) AS BIGINT) AS deg_s
      |         FROM edges GROUP BY 1),
      |r2 AS (SELECT c AS custkey, 150000 + SUM(CAST(FLOOR(
      |           CAST(r_s AS DOUBLE) * 85 / (deg_s * 100)) AS BIGINT))
      |         AS rank_scaled
      |       FROM edges JOIN r1 USING (sk) JOIN outs USING (sk)
      |       GROUP BY c)
      |SELECT custkey, CAST(rank_scaled AS BIGINT) AS rank_scaled FROM r2
      |ORDER BY rank_scaled DESC, custkey ASC LIMIT 50""".stripMargin

  /** TPC-H Q18 shape (large-order customers): orders whose total line
    * quantity clears a threshold, joined back to customer — the
    * IN-(aggregated subquery) pattern. Catalyst plans the HAVING
    * subquery as an aggregate + LeftSemi, so the fact table is scanned
    * once for the filter and once for the payload — never per-row.
    * Quantity sums run in DECIMAL (exact). */
  private def q18TopOrders(s: SparkSession, dir: String): DataFrame = {
    Sources.table(s, dir, "orders").createOrReplaceTempView("orders_q18")
    Sources.table(s, dir, "lineitem").createOrReplaceTempView("lineitem_q18")
    Sources.table(s, dir, "customer").createOrReplaceTempView("customer_q18")
    s.sql(
      """SELECT c.c_name, o.o_orderkey,
        |  CAST(CAST(o.o_orderdate AS DATE) AS STRING) AS o_orderdate,
        |  o.o_totalprice,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_qty
        |FROM customer_q18 c
        |JOIN orders_q18 o ON c.c_custkey = o.o_custkey
        |JOIN lineitem_q18 l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem_q18
        |  GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
        |ORDER BY o.o_totalprice DESC, o.o_orderkey
        |LIMIT 100""".stripMargin)
  }

  private val q18Oracle: String =
    """SELECT c.c_name, o.o_orderkey,
      |  CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
      |  o.o_totalprice,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_qty
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
      |GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
      |ORDER BY o.o_totalprice DESC, o.o_orderkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q4 shape (order-priority checking): orders in one quarter
    * with at least one late-shipping line item, counted by priority.
    * EXISTS compiles to a LeftSemi join keyed on the order key — one
    * probe per order, no fan-out however many line items match (the
    * property an inner-join + distinct formulation loses). The ship-
    * after-order predicate is pushed into the semi join's condition. */
  private def q4PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val orders = Sources.table(s, dir, "orders")
      .filter(col("o_orderdate").cast("date") >= lit("1996-01-01") &&
        col("o_orderdate").cast("date") < lit("1996-04-01"))
    val late = Sources.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    orders.join(late,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val q4Oracle: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q13 shape (customer distribution): orders-per-customer
    * histogram INCLUDING zero-order customers — the left outer join the
    * shape exists to test (an inner join silently drops the c_count = 0
    * bucket). Two aggregations: per-customer counts (keyed on the join's
    * own partitioning), then the tiny histogram rollup. */
  private def q13CustDist(s: SparkSession, dir: String): DataFrame = {
    val customer = Sources.table(s, dir, "customer").select(col("c_custkey"))
    val orders = Sources.table(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    customer.join(orders, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val q13Oracle: String =
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      |FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q16 shape (supplier count by part descriptor): distinct
    * suppliers per (type, size), excluding one brand and a NOT-IN
    * supplier blacklist. NOT IN over a non-null key is a LeftAnti join
    * (broadcast — the blacklist is tiny); the distinct-count shuffles
    * once on the group keys. */
  private def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val ps = Sources.table(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
    val part = Sources.table(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#45")
      .select(col("p_partkey"), col("p_type"), col("p_size"))
    val excluded = Sources.table(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    ps.join(part, col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_type"), col("p_size"))
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_type").asc,
        col("p_size").asc)
  }

  private val q16Oracle: String =
    """SELECT p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#45'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 0)
      |GROUP BY p_type, p_size
      |ORDER BY supplier_cnt DESC, p_type ASC, p_size ASC""".stripMargin

  /** TPC-H Q21 shape (suppliers who kept orders waiting — here: the
    * ONLY supplier with a returned line on a multi-supplier order,
    * this fixture's stand-in for "only late supplier"). The reference
    * formulation is EXISTS + NOT EXISTS — two correlated probes into
    * the fact table per fact row, i.e. a triple self-join of lineitem.
    * Re-expressed aggregation-first: ONE groupBy(orderkey) computes
    * (distinct suppliers, distinct returned-suppliers) per order, the
    * qualifying predicate (n_supp > 1 AND n_rsupp = 1) replaces both
    * correlated subqueries, and the fact table is touched exactly
    * twice (agg + probe), both times shuffled on the same orderkey —
    * AQE coalesces, supplier broadcasts. The DuckDB oracle runs the
    * textbook double-EXISTS text, so the hash match proves the
    * rewrite's equivalence, not just its plausibility. */
  private def q21SuppWait(s: SparkSession, dir: String): DataFrame = {
    val li = Sources.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    // two distinct-counts over one key would plan as an Expand (row
    // doubling through the first exchange); the two-level aggregate —
    // (orderkey, suppkey) grain, then orderkey — computes both counts
    // with map-side combine and no Expand
    val qualOrders = li
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
        .as("has_r"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("has_r")).as("n_rsupp"))
      .filter(col("n_supp") > 1 && col("n_rsupp") === 1)
      .select("l_orderkey")
    val fOrders = Sources.table(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    li.filter(col("l_returnflag") === "R")
      .join(qualOrders, "l_orderkey")
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Sources.table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
  }

  private val q21Oracle: String =
    """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE l1.l_returnflag = 'R' AND o.o_orderstatus = 'F'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |              WHERE l3.l_orderkey = l1.l_orderkey
      |                AND l3.l_suppkey <> l1.l_suppkey
      |                AND l3.l_returnflag = 'R')
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s_name ASC
      |LIMIT 20""".stripMargin

  /** TPC-H Q17 shape (small-quantity revenue): lines whose quantity sits
    * below 20% of their part's average. The textbook form is a
    * correlated AVG subquery — one probe per fact row; here it
    * decorrelates to ONE keyed aggregate over the (semi-joined) fact
    * slice, probed back by partkey. The 20%-of-average threshold is
    * compared in EXACT decimal arithmetic (qty·5·cnt < Σqty — no float
    * average whose last-ulp could flip a boundary row between engines);
    * the oracle states the same exact comparison inside the correlated
    * subquery form, so the hash match proves the decorrelation. */
  private def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val li = Sources.table(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val parts = Sources.table(s, dir, "part")
      .filter(col("p_brand") === "Brand#13" && col("p_size") <= 15)
      .select(col("p_partkey"))
    val narrowed = li
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .drop("p_partkey")
    val perPart = narrowed.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
    narrowed.join(perPart, "l_partkey")
      .filter(col("l_quantity").cast("decimal(18,2)") * 5 * col("cnt") <
        col("sum_qty"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double") / 7.0).as("avg_yearly"))
  }

  private val q17Oracle: String =
    """SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
      |    AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand = 'Brand#13' AND p.p_size <= 15
      |  AND 5 * CAST(l.l_quantity AS DECIMAL(18,2))
      |      * (SELECT COUNT(*) FROM lineitem l2
      |         WHERE l2.l_partkey = l.l_partkey)
      |    < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,2)))
      |       FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)""".stripMargin

  /** TPC-H Q15 shape (top supplier by view): quarterly revenue per
    * supplier, keep every supplier tying the global maximum. The view's
    * max rides as a broadcast 1-row aggregate joined back on EXACT
    * decimal equality — never a driver-side collect, and ties survive
    * (the reference query's correctness subtlety). */
  private def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Sources.table(s, dir, "lineitem")
      .filter(col("l_shipdate").cast("date") >= lit("1998-01-01") &&
        col("l_shipdate").cast("date") < lit("1998-04-01"))
      .select(col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,6)").as("rev"))
      .groupBy(col("l_suppkey")).agg(sum(col("rev")).as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.join(broadcast(mx), col("total_rev") === col("max_rev"))
      .join(broadcast(Sources.table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  private val q15Oracle: String =
    """WITH revenue AS (
      |  SELECT l_suppkey, SUM(CAST(l_extendedprice * (1 - l_discount)
      |      AS DECIMAL(28,6))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1998-01-01'
      |    AND l_shipdate < DATE '1998-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE)
      |    AS total_revenue
      |FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
      |WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q22 shape (lapsed big-balance customers): customers above the
    * positive-balance average with no recent orders, rolled up by
    * nation. The global average is a broadcast 1-row (count, Σ) pair
    * compared in exact decimal (bal·cnt > Σ — same reasoning as Q17);
    * the no-recent-orders predicate is a LEFT ANTI join keyed on
    * custkey, which never fans out however many orders match. */
  private def q22LapsedBig(s: SparkSession, dir: String): DataFrame = {
    val cust = Sources.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val stats = cust.filter(col("c_acctbal") > 0)
      .agg(count(lit(1)).as("pos_cnt"),
        sum(col("c_acctbal").cast("decimal(18,2)")).as("pos_sum"))
    val recent = Sources.table(s, dir, "orders")
      .filter(col("o_orderdate").cast("date") >= lit("2000-01-01"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(stats))
      .filter(col("c_acctbal").cast("decimal(18,2)") * col("pos_cnt") >
        col("pos_sum"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("totacctbal"))
      .orderBy("c_nationkey")
  }

  private val q22Oracle: String =
    """SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
      |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |    AS totacctbal
      |FROM customer c
      |WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
      |      * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
      |    > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
      |       FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |      WHERE o.o_custkey = c.c_custkey
      |        AND o.o_orderdate >= DATE '2000-01-01')
      |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin

  /** TPC-H Q20 shape (excess-stock suppliers), the hardest decorrelation
    * in the suite: a correlated SCALAR threshold nested inside an IN
    * nested inside another IN — three subquery levels. Without a
    * partsupp table the supply relation lives at the (l_partkey,
    * l_suppkey) pair grain of lineitem; "excess" means more than half of
    * a tracked pair's all-time quantity shipped since 2000.
    *
    * Double decorrelation: the inner correlated SUM pair (recent, total
    * — both correlated on the SAME pair key) collapses into ONE
    * conditional aggregate at pair grain over the part-name-restricted
    * fact slice (part filter pushed below the aggregate — it only
    * removes whole pair groups, never rows within one); the middle IN
    * becomes that aggregate's threshold filter; the outer IN becomes a
    * LeftSemi probe from the nation-filtered supplier dim. The fact
    * table is scanned ONCE (the textbook plan scans it three times),
    * shuffles once on the pair key, and the threshold (2·recent > total)
    * compares exact DECIMAL sums so no float average can flip a boundary
    * pair between engines. The oracle keeps all three nested subqueries
    * verbatim, so the hash match proves the flattening. */
  private def q20ExcessSupp(s: SparkSession, dir: String): DataFrame = {
    val redParts = Sources.table(s, dir, "part")
      .filter(col("p_name").like("red%")).select(col("p_partkey"))
    val qty = col("l_quantity").cast("decimal(18,2)")
    val qualSupp = Sources.table(s, dir, "lineitem")
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(qty).as("total_qty"),
        sum(when(col("l_shipdate").cast("date") >= lit("2000-01-01"), qty)
          .otherwise(lit(0).cast("decimal(18,2)"))).as("recent_qty"))
      .filter(col("recent_qty") * 2 > col("total_qty"))
      .select(col("l_suppkey")).distinct()
    Sources.table(s, dir, "supplier")
      .join(broadcast(Sources.table(s, dir, "nation")
        .filter(col("n_name") === "NATION_3").select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .join(qualSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  private val q20Oracle: String =
    """SELECT s.s_suppkey, s.s_name
      |FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
      |WHERE n.n_name = 'NATION_3' AND s.s_suppkey IN (
      |  SELECT l.l_suppkey
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
      |  WHERE l.l_partkey IN (SELECT p_partkey FROM part
      |                        WHERE p_name LIKE 'red%')
      |    AND 2 * (SELECT COALESCE(SUM(CAST(l2.l_quantity
      |                 AS DECIMAL(18,2))), 0)
      |             FROM lineitem l2
      |             WHERE l2.l_partkey = l.l_partkey
      |               AND l2.l_suppkey = l.l_suppkey
      |               AND l2.l_shipdate >= DATE '2000-01-01')
      |        > (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,2)))
      |           FROM lineitem l3
      |           WHERE l3.l_partkey = l.l_partkey
      |             AND l3.l_suppkey = l.l_suppkey))
      |ORDER BY s.s_suppkey""".stripMargin

  /** TPC-H Q2 shape (min-cost supplier): for each small part, every
    * EUROPE supplier whose pair cost ties the part's minimum across the
    * whole EUROPE dimension subtree. The pair cost (partsupp stand-in)
    * is MIN(extendedprice) at (part, supplier) grain, DECIMAL-exact so
    * the min-equality join can't miss a tie by one ulp.
    *
    * The textbook correlated form re-evaluates a MIN over the
    * supplier⋈nation⋈region subtree per outer row; decorrelated, the
    * subtree is joined ONCE (region/nation broadcast into the supplier
    * dim, the fact semi-joined against it), aggregated to pair costs,
    * re-aggregated to per-part minima, and joined back on exact
    * equality — ties produce one row per tying supplier in both
    * engines. The part size filter pushes below both aggregates: it
    * removes whole partkey groups only, so per-part minima are
    * unchanged. */
  private def q2MinCostSupp(s: SparkSession, dir: String): DataFrame = {
    val europeSupp = Sources.table(s, dir, "supplier")
      .join(broadcast(Sources.table(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Sources.table(s, dir, "region")
        .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val smallParts = Sources.table(s, dir, "part")
      .filter(col("p_size") <= 3).select(col("p_partkey"), col("p_name"))
    val cost = Sources.table(s, dir, "lineitem")
      .join(broadcast(europeSupp.select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .join(broadcast(smallParts.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice").cast("decimal(18,2)"))
        .as("pair_cost"))
    val minCost = cost.groupBy(col("l_partkey"))
      .agg(min(col("pair_cost")).as("min_cost"))
    cost.join(minCost, Seq("l_partkey"))
      .filter(col("pair_cost") === col("min_cost"))
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(europeSupp), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
        col("pair_cost").cast("double").as("supply_cost"))
      .orderBy("p_partkey", "s_name")
  }

  private val q2Oracle: String =
    """WITH cost AS (
      |  SELECT l.l_partkey, l.l_suppkey,
      |         MIN(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS pair_cost
      |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  WHERE r.r_name = 'EUROPE'
      |  GROUP BY l.l_partkey, l.l_suppkey)
      |SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
      |       CAST(c.pair_cost AS DOUBLE) AS supply_cost
      |FROM part p
      |JOIN cost c ON c.l_partkey = p.p_partkey
      |JOIN supplier s ON s.s_suppkey = c.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |WHERE p.p_size <= 3
      |  AND c.pair_cost = (SELECT MIN(c2.pair_cost) FROM cost c2
      |                     WHERE c2.l_partkey = p.p_partkey)
      |ORDER BY p.p_partkey, s.s_name""".stripMargin

  /** TPC-H Q11 shape (important stock): per-part value from one
    * nation's suppliers, HAVING above a fixed fraction of the GLOBAL
    * total — a grouped aggregate filtered by a scalar aggregate over
    * its own input. Decorrelated, the global total is a second tiny
    * aggregate OVER THE PER-PART FRAME (never a second fact scan — the
    * textbook plan reads the fact twice), broadcast as a 1-row cross
    * join; the threshold compares val·1000 > total in exact DECIMAL
    * (same no-float-boundary reasoning as Q17/Q22). One fact scan, one
    * shuffle on partkey, one 1-row broadcast. */
  private def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val natSupp = Sources.table(s, dir, "supplier")
      .filter(col("s_nationkey") === 7).select(col("s_suppkey"))
    val v = Sources.table(s, dir, "lineitem")
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"),
        "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(28,6)")).as("val"))
    val tot = v.agg(sum(col("val")).as("tot"))
    v.crossJoin(broadcast(tot))
      .filter(col("val") * 1000 > col("tot"))
      .select(col("l_partkey"), col("val").cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey").asc)
  }

  private val q11Oracle: String =
    """WITH v AS (
      |  SELECT l.l_partkey,
      |         SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
      |             AS DECIMAL(28,6))) AS val
      |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  WHERE s.s_nationkey = 7
      |  GROUP BY l.l_partkey)
      |SELECT l_partkey, CAST(val AS DOUBLE) AS value
      |FROM v
      |WHERE val * 1000 > (SELECT SUM(val) FROM v)
      |ORDER BY value DESC, l_partkey ASC""".stripMargin

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("q21_supp_wait", q21SuppWait, Some(q21Oracle)),
    QueryDef("q20_excess_supp", q20ExcessSupp, Some(q20Oracle)),
    QueryDef("q2_min_cost_supp", q2MinCostSupp, Some(q2Oracle)),
    QueryDef("q11_important_parts", q11ImportantParts, Some(q11Oracle)),
    QueryDef("q17_small_qty", q17SmallQty, Some(q17Oracle)),
    QueryDef("q15_top_supplier", q15TopSupplier, Some(q15Oracle)),
    QueryDef("q22_lapsed_big", q22LapsedBig, Some(q22Oracle)),
    QueryDef("q4_priority_exists", q4PriorityExists, Some(q4Oracle)),
    QueryDef("q13_custdist", q13CustDist, Some(q13Oracle)),
    QueryDef("q16_supplier_cnt", q16SupplierCnt, Some(q16Oracle)),
    QueryDef("q5_star_join", q5StarJoin, Some(q5Oracle)),
    QueryDef("q10_returned_items", q10ReturnedItems, Some(q10Oracle)),
    QueryDef("q18_top_orders", q18TopOrders, Some(q18Oracle)),
    QueryDef("etl_snapshot_diff", snapshotDiff, Some(snapshotDiffOracle)),
    QueryDef("etl_merge_apply", mergeApply, Some(mergeApplyOracle)),
    QueryDef("a_udaf_geomean", udafGeomean, Some(geomeanOracle)),
    QueryDef("f_weighted_sample", weightedSample, Some(weightedSampleOracle)),
    QueryDef("g_rank_propagation", rankPropagation, Some(rankOracle)),
  )
}
