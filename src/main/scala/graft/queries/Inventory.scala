package graft.queries

/** The declared query inventory — SURVEY.md §2b, the t2 correctness contract.
  *
  * Each entry carries the Spark SQL the engine runs and the equivalent ANSI
  * SQL the DuckDB oracle runs on the same parquet tables. Both variants were
  * cross-validated (bit-identical canonical hashes at sf0.001/0.01/0.1) by
  * `survey/validate_inventory.py` — treat that harness as normative; do not
  * add or edit a query here without re-running it through the dual-engine
  * validator.
  *
  * `sparkSql` is what graft.SparkEntry serves, unless graft.dsl.Relational
  * has an entry for the ID; such an entry exists only where its optimized
  * plan differs from this SQL's (an engine operator or a hand-shaped plan).
  *
  * Dialect notes (why some duck variants differ):
  *  - epoch seconds: Spark `CAST(ts AS DOUBLE)` / `CAST(ts AS BIGINT)` vs
  *    DuckDB `epoch(ts)`;
  *  - arrays: Spark 0-indexed `[]`, `size`, `split`; DuckDB 1-indexed,
  *    `len`, `string_split`;
  *  - `STRING` vs `VARCHAR` casts; `RLIKE` vs `regexp_matches`;
  *    `get_json_object` vs `json_extract`;
  *  - DuckDB requires an alias on derived tables;
  *  - `events.ts` is parquet timestamp[ns]: the Spark side reads it via the
  *    normalized view (graft.core.Tables); the duck side inlines
  *    `CAST(ts AS TIMESTAMP)` so the oracle works on raw tables too.
  *
  * Every query ends in a total-order ORDER BY (lineitem has NO unique key —
  * FIXTURES.md quirk #2 — so sorts tie-break on selected columns), and every
  * output column is aliased identically in both variants (the driver's
  * compare sorts columns by name).
  */
object Inventory {

  final case class Query(id: String, sparkSql: String, duckSql: String)

  /** DuckDB-side normalized events relation (ns → µs timestamp). */
  private val EV =
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  private val buf = scala.collection.mutable.ListBuffer.empty[Query]
  private def q(id: String, sparkSql: String, duckSql: String = null): Unit =
    buf += Query(id, sparkSql, Option(duckSql).getOrElse(sparkSql))

  // ---------------------------------------------------------------- scan
  q("SCAN-COUNT", "SELECT count(*) AS cnt FROM lineitem")

  // ----------------------------------------------------------- projection
  q("PROJ-EXPR",
    """SELECT l_orderkey, l_linenumber,
      |  round(l_extendedprice * (1 - l_discount), 2) AS net
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, net LIMIT 50""".stripMargin)

  // --------------------------------------------------------------- filter
  q("FILTER-PRED",
    """SELECT o_orderkey FROM orders
      |WHERE o_orderstatus IN ('F','O') AND o_totalprice BETWEEN 1000 AND 50000
      |  AND o_orderpriority LIKE '1-%' AND NOT (o_custkey = 7)
      |ORDER BY o_orderkey LIMIT 50""".stripMargin)

  // ---------------------------------------------------------------- joins
  q("JOIN-INNER-EQUI",
    """SELECT r_name, n_name, count(*) AS c
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)

  q("JOIN-LEFT-OUTER",
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      |  coalesce(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2), 0.0) AS spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey LIMIT 60""".stripMargin)

  q("JOIN-FULL-OUTER",
    """SELECT coalesce(a.k, b.k) AS k, a.nc, b.ns FROM
      | (SELECT c_nationkey AS k, count(*) AS nc FROM customer GROUP BY c_nationkey) a
      | FULL OUTER JOIN
      | (SELECT s_nationkey AS k, count(*) AS ns FROM supplier GROUP BY s_nationkey) b
      | ON a.k = b.k ORDER BY k""".stripMargin)

  q("JOIN-SEMI",
    """SELECT c_custkey FROM customer
      |LEFT SEMI JOIN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000) o
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin,
    """SELECT c_custkey FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
      |ORDER BY c_custkey""".stripMargin)

  q("JOIN-ANTI",
    """SELECT c_custkey FROM customer LEFT ANTI JOIN orders ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin,
    """SELECT c_custkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin)

  q("JOIN-RANGE",
    """SELECT o.o_orderkey, count(*) AS n
      |FROM orders o JOIN lineitem l
      |  ON l.l_orderkey = o.o_orderkey
      | AND l.l_shipdate >= o.o_orderdate
      | AND l.l_shipdate <  o.o_orderdate + INTERVAL '60' DAY
      |GROUP BY o.o_orderkey ORDER BY o.o_orderkey LIMIT 50""".stripMargin,
    """SELECT o.o_orderkey, count(*) AS n
      |FROM orders o JOIN lineitem l
      |  ON l.l_orderkey = o.o_orderkey
      | AND l.l_shipdate >= o.o_orderdate
      | AND l.l_shipdate <  o.o_orderdate + INTERVAL 60 DAY
      |GROUP BY o.o_orderkey ORDER BY o.o_orderkey LIMIT 50""".stripMargin)

  q("JOIN-ASOF",
    """WITH purchases AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |clicks AS (
      |  SELECT user_id, ts FROM events WHERE event_type = 'click')
      |SELECT p.event_id, max(CAST(c.ts AS BIGINT)) AS last_click_epoch
      |FROM purchases p LEFT JOIN clicks c
      |  ON c.user_id = p.user_id AND c.ts <= p.ts
      |GROUP BY p.event_id ORDER BY p.event_id LIMIT 80""".stripMargin,
    s"""WITH purchases AS (
      |  SELECT event_id, user_id, ts FROM $EV events WHERE event_type = 'purchase'),
      |clicks AS (
      |  SELECT user_id, ts FROM $EV events WHERE event_type = 'click')
      |SELECT p.event_id, max(CAST(floor(epoch(c.ts)) AS BIGINT)) AS last_click_epoch
      |FROM purchases p LEFT JOIN clicks c
      |  ON c.user_id = p.user_id AND c.ts <= p.ts
      |GROUP BY p.event_id ORDER BY p.event_id LIMIT 80""".stripMargin)

  // ---------------------------------------------------------- aggregation
  q("AGG-TPCH-Q1",
    """SELECT l_returnflag, l_linestatus,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base,
      |  round(CAST(avg(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE), 4) AS avg_disc,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  // full TPC-H composition queries (adapted to the fixture's columns and
  // date range): multi-join + aggregate shapes exercising broadcast dim
  // joins, selective date filters, and top-k — the plans a BI user runs,
  // not just isolated operators. Revenue sums ride DECIMAL for exact,
  // order-independent cross-engine totals (the AGG-TPCH-Q1 trick).
  q("JOIN-TPCH-Q3",
    """SELECT l_orderkey,
      |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
      |  CAST(o_orderdate AS DATE) AS odate, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-03-15'
      |  AND l_shipdate > TIMESTAMP '1997-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)

  q("JOIN-TPCH-Q5",
    """SELECT n_name,
      |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
      |FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)

  q("JOIN-TPCH-Q10",
    """SELECT c_custkey, c_name,
      |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
      |  round(c_acctbal, 2) AS acctbal, n_name
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-07-01'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)

  // Q18 large-volume orders: semi-join on a HAVING aggregate of the fact
  // table itself — a different composition shape than Q3/Q5/Q10's dim
  // filters (the qualifying key set is computed, not scanned).
  q("JOIN-TPCH-Q18",
    """SELECT c_name, c_custkey, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS odate,
      |  round(o_totalprice, 2) AS totalprice, sum(l_quantity) AS qty
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY totalprice DESC, o_orderkey LIMIT 100""".stripMargin)

  // Q21-shape composition: semi AND anti correlated subqueries against the
  // same fact — the hardest standard BI pattern (waiting-supplier shape).
  // "late" is adapted to l_returnflag = 'R' (fixture lineitem carries no
  // receipt/commit dates); both EXISTS decorrelate to orderkey-equality
  // semi/anti joins with a suppkey<> residual, never a cartesian.
  q("JOIN-TPCH-Q21",
    """SELECT s_name, n_name, count(*) AS numwait
      |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |  JOIN orders ON o_orderkey = l1.l_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND n_nationkey < 13
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY s_name, n_name
      |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)

  // Q2 minimum-cost supplier: correlated MIN scalar subquery per part
  // (fixture has no partsupp, so the min is over lineitem's observed
  // prices). min() on double is order-independent — exact cross-engine.
  q("JOIN-TPCH-Q2",
    """SELECT p_partkey, p_name, s_suppkey, s_name, round(l_extendedprice, 2) AS minprice
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |WHERE p_type = 'STANDARD' AND p_size <= 5
      |  AND l_extendedprice = (SELECT min(l_extendedprice) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)
      |ORDER BY p_partkey, s_suppkey LIMIT 100""".stripMargin)

  // Q4 order-priority checking: correlated EXISTS with a non-equi residual
  // ("shipped >30 days after order" stands in for the missing commit date).
  q("JOIN-TPCH-Q4",
    """SELECT o_orderpriority, count(*) AS order_count FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL '30' DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    """SELECT o_orderpriority, count(*) AS order_count FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  // Q7 volume shipping between two trading blocs (region-level: the
  // sf0.001 supplier sample is too sparse for single-nation pairs).
  q("JOIN-TPCH-Q7",
    """SELECT supp_region, cust_region, l_year,
      |  round(CAST(sum(volume) AS DOUBLE), 2) AS revenue FROM (
      |  SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
      |    year(l_shipdate) AS l_year,
      |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume
      |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      |    JOIN orders ON o_orderkey = l_orderkey
      |    JOIN customer ON c_custkey = o_custkey
      |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |    JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
      |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |  WHERE ((r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE')
      |      OR (r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01') t
      |GROUP BY supp_region, cust_region, l_year
      |ORDER BY supp_region, cust_region, l_year""".stripMargin)

  // Q8 market share: one nation's slice of a region's import volume by
  // year — conditional-sum ratio over a 7-table join. Both sums ride
  // DECIMAL; the final division is one deterministic double op.
  q("JOIN-TPCH-Q8",
    """SELECT o_year,
      |  round(CAST(sum(CASE WHEN nat = 'NATION_2' THEN volume ELSE 0 END) AS DOUBLE)
      |      / CAST(sum(volume) AS DOUBLE), 4) AS mkt_share FROM (
      |  SELECT year(o_orderdate) AS o_year,
      |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
      |    n2.n_name AS nat
      |  FROM part JOIN lineitem ON p_partkey = l_partkey
      |    JOIN supplier ON s_suppkey = l_suppkey
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |    JOIN region ON n1.n_regionkey = r_regionkey
      |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY') t
      |GROUP BY o_year ORDER BY o_year""".stripMargin)

  // Q11 important-part concentration (no partsupp: "value" is lineitem
  // revenue per part): HAVING-style filter against a global-aggregate
  // scalar subquery, threshold scaled by distinct-part count so the
  // query selects at every SF.
  q("AGG-TPCH-Q11",
    """SELECT l_partkey, round(CAST(value AS DOUBLE), 2) AS value FROM (
      |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
      |  FROM lineitem GROUP BY l_partkey) t
      |WHERE CAST(value AS DOUBLE) >
      |  1.5 * (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) FROM lineitem)
      |      / (SELECT count(DISTINCT l_partkey) FROM lineitem)
      |ORDER BY value DESC, l_partkey""".stripMargin)

  // Q13 customer distribution: outer-join fact histogram — count orders
  // per customer (zeros kept), then the distribution of those counts.
  q("JOIN-TPCH-Q13",
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN
      |    (SELECT o_custkey, o_orderkey FROM orders WHERE o_orderpriority <> '5-LOW') o
      |    ON c_custkey = o_custkey
      |  GROUP BY c_custkey) t
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      |  GROUP BY c_custkey) t
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)

  // Q14 promo revenue share: conditional-aggregate ratio over one month.
  q("JOIN-TPCH-Q14",
    """SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(rev) AS DOUBLE), 4) AS promo_revenue FROM (
      |  SELECT p_type, CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01') t""".stripMargin)

  // Q15 top supplier: argmax against a scalar subquery over a derived
  // revenue view (used twice: join input + max). DECIMAL equality is
  // exact, so the tie-set is cross-engine stable.
  q("JOIN-TPCH-Q15",
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, round(CAST(total_revenue AS DOUBLE), 2) AS total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin)

  // Q17 small-quantity-order revenue: correlated scalar AVG per part
  // (quantities are integral doubles — the avg is exact either engine).
  q("JOIN-TPCH-Q17",
    """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#23' AND p_size <= 25
      |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)""".stripMargin)

  // Q19 disjunctive predicates: OR of brand×size×quantity conjunctions —
  // the filter shape that exercises disjunction pushdown.
  q("JOIN-TPCH-Q19",
    """SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)

  // Q20 excess-share supplier: nested IN-subquery over two stacked fact
  // aggregates (per-(part,supplier) quantity vs the part's max) — the
  // argmax variant fits every SF where a fixed share threshold cannot.
  q("JOIN-TPCH-Q20",
    """WITH per AS (
      |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS q
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |mx AS (SELECT l_partkey, max(q) AS mq FROM per GROUP BY l_partkey)
      |SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM per JOIN mx USING (l_partkey)
      |    JOIN part ON p_partkey = l_partkey
      |  WHERE p_name LIKE 'blue%' AND q = mq)
      |ORDER BY s_suppkey""".stripMargin)

  // Q6 forecast revenue change: the canonical pushdown query — every
  // predicate (date range, discount band, quantity cap) must reach the
  // scan; one DECIMAL sum, no join at all.
  q("AGG-TPCH-Q6",
    """SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)

  // Q9 product-type profit: 5-table join, profit = revenue − cost with
  // cost adapted to 0.5·retailprice·quantity (fixture has no partsupp
  // supplycost); color-prefix part slice, nation×year grouping.
  q("JOIN-TPCH-Q9",
    """SELECT nat, o_year, round(CAST(sum(amount) AS DOUBLE), 2) AS sum_profit FROM (
      |  SELECT n_name AS nat, year(o_orderdate) AS o_year,
      |    CAST(l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity AS DECIMAL(18,4)) AS amount
      |  FROM part JOIN lineitem ON p_partkey = l_partkey
      |    JOIN supplier ON s_suppkey = l_suppkey
      |    JOIN orders ON o_orderkey = l_orderkey
      |    JOIN nation ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE 'red%') t
      |GROUP BY nat, o_year ORDER BY nat, o_year DESC""".stripMargin)

  // Q12 shipping-priority classes: conditional counts per category over a
  // late-shipment join (shipmode → returnflag, commit date → the +30-day
  // adaptation Q4 uses); count(CASE) keeps BIGINT on both engines.
  q("JOIN-TPCH-Q12",
    """SELECT l_returnflag,
      |  count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
      |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_shipdate > o_orderdate + INTERVAL '30' DAY
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    """SELECT l_returnflag,
      |  count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
      |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  // Q16 supplier diversity: distinct-supplier counts per part attribute
  // combo with a NOT-IN supplier exclusion ("complaints" adapted to
  // negative account balance) — the distinct-count + anti-join shape.
  q("JOIN-TPCH-Q16",
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 100""".stripMargin)

  // Q22 global sales opportunity: anti join + scalar-subquery threshold.
  // "has no urgent orders" stands in for quirk #3 (customers without ANY
  // order don't exist below sf0.1); country code is nationkey mod 5.
  q("JOIN-TPCH-Q22",
    """WITH thr AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS thr
      |             FROM customer WHERE c_acctbal > 0.0D),
      |c AS (SELECT /*+ BROADCAST(thr) */ * FROM customer CROSS JOIN thr WHERE c_acctbal > thr)
      |SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode, count(*) AS numcust,
      |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS totacctbal
      |FROM c LEFT ANTI JOIN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') u
      |  ON c_custkey = o_custkey
      |GROUP BY CAST(c_nationkey % 5 AS INT) ORDER BY cntrycode""".stripMargin,
    """SELECT cntrycode, count(*) AS numcust,
      |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS totacctbal FROM (
      |  SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode, c_acctbal FROM customer
      |  WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |      FROM customer WHERE c_acctbal > 0.0)
      |    AND NOT EXISTS (SELECT 1 FROM orders
      |      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')) t
      |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)

  // dedup-then-count instead of count(DISTINCT): the map-side partial
  // dedup replaces the Expand + two-phase distinct aggregate (2× at sf0.1).
  // IS NOT NULL matches count(DISTINCT)'s null skipping, except that a group
  // whose ids are all null vanishes instead of reporting u=0 (no fixture
  // has one). The oracle runs the count(DISTINCT) form.
  q("AGG-DISTINCT",
    """SELECT event_type, count(*) AS u FROM
      |  (SELECT DISTINCT event_type, user_id FROM events WHERE user_id IS NOT NULL) t
      |GROUP BY event_type ORDER BY event_type""".stripMargin,
    s"""SELECT event_type, count(DISTINCT user_id) AS u
      |FROM $EV events GROUP BY event_type ORDER BY event_type""".stripMargin)

  q("AGG-ROLLUP",
    """SELECT r_name, n_name, count(*) AS c
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)

  q("AGG-CUBE",
    """SELECT c_mktsegment, n_name, count(*) AS c
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY CUBE (c_mktsegment, n_name)
      |ORDER BY c_mktsegment NULLS FIRST, n_name NULLS FIRST""".stripMargin)

  q("AGG-GROUPING-SETS",
    """SELECT c_mktsegment, n_name, count(*) AS c
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY GROUPING SETS ((c_mktsegment), (n_name))
      |ORDER BY c_mktsegment NULLS FIRST, n_name NULLS FIRST""".stripMargin)

  q("AGG-STATS",
    """SELECT event_type,
      |  round(CAST(stddev_samp(value) AS DOUBLE), 3) AS sd,
      |  round(CAST(var_samp(value) AS DOUBLE), 3) AS vr,
      |  round(min(value), 2) AS mn, round(max(value), 2) AS mx
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    s"""SELECT event_type,
      |  round(CAST(stddev_samp(value) AS DOUBLE), 3) AS sd,
      |  round(CAST(var_samp(value) AS DOUBLE), 3) AS vr,
      |  round(min(value), 2) AS mn, round(max(value), 2) AS mx
      |FROM $EV events GROUP BY event_type ORDER BY event_type""".stripMargin)

  // --------------------------------------------------------------- window
  q("WIN-RANK",
    """SELECT user_id, event_id,
      |  row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk
      |FROM events WHERE user_id < 5
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, rn LIMIT 80""".stripMargin,
    s"""SELECT user_id, event_id,
      |  row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk
      |FROM $EV events WHERE user_id < 5
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, rn LIMIT 80""".stripMargin)

  q("WIN-LAG-LEAD",
    """SELECT event_id,
      |  lag(event_id) OVER w AS prev_id, lead(event_id) OVER w AS next_id
      |FROM events WHERE user_id = 3
      |WINDOW w AS (ORDER BY ts, event_id) ORDER BY event_id""".stripMargin,
    s"""SELECT event_id,
      |  lag(event_id) OVER w AS prev_id, lead(event_id) OVER w AS next_id
      |FROM $EV events WHERE user_id = 3
      |WINDOW w AS (ORDER BY ts, event_id) ORDER BY event_id""".stripMargin)

  q("WIN-FRAME-ROWS",
    """SELECT event_id,
      |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
      |FROM events WHERE user_id < 3 ORDER BY event_id LIMIT 80""".stripMargin,
    s"""SELECT event_id,
      |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
      |FROM $EV events WHERE user_id < 3 ORDER BY event_id LIMIT 80""".stripMargin)

  // range key in integer cents: decimal(18,2) ×100 → bigint is a monotone
  // bijection, so the order and the [p−1000, p] frame are the decimal key's
  // (the oracle's form), with the frame arithmetic on longs
  q("WIN-FRAME-RANGE",
    """SELECT o_orderkey,
      |  count(*) OVER (ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |        RANGE BETWEEN 100000 PRECEDING AND CURRENT ROW) AS near_cnt
      |FROM orders ORDER BY o_orderkey LIMIT 60""".stripMargin,
    """SELECT o_orderkey,
      |  count(*) OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2))
      |        RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS near_cnt
      |FROM orders ORDER BY o_orderkey LIMIT 60""".stripMargin)

  q("WIN-NTILE",
    """SELECT o_orderkey, ntile(4) OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey) AS q
      |FROM orders ORDER BY o_orderkey LIMIT 60""".stripMargin)

  // Scale-path twins of the three global-window shapes above: same
  // semantics (the SQL here IS the plain global window — that's what the
  // oracle checks), but the DSL implementation (graft.operators
  // .GlobalWindow, served by SparkEntry) runs the PARTITIONED plan:
  // range-bucketed key, bucket-local window, broadcast boundary/offset
  // metadata — no single-partition WindowExec over the data.
  q("WIN-LAG-LEAD-SCALE",
    """SELECT event_id,
      |  lag(event_id) OVER w AS prev_id, lead(event_id) OVER w AS next_id
      |FROM events
      |WINDOW w AS (ORDER BY ts, event_id) ORDER BY event_id LIMIT 100""".stripMargin,
    s"""SELECT event_id,
      |  lag(event_id) OVER w AS prev_id, lead(event_id) OVER w AS next_id
      |FROM $EV events
      |WINDOW w AS (ORDER BY ts, event_id) ORDER BY event_id LIMIT 100""".stripMargin)

  q("WIN-FRAME-RANGE-SCALE",
    """SELECT o_orderkey,
      |  count(*) OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2))
      |        RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS near_cnt
      |FROM orders ORDER BY o_orderkey DESC LIMIT 80""".stripMargin)

  q("WIN-NTILE-SCALE",
    """SELECT o_orderkey, ntile(4) OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey) AS q
      |FROM orders ORDER BY o_orderkey DESC LIMIT 80""".stripMargin)

  // ----------------------------------------------------------- sort/limit
  q("SORT-TOPK",
    """SELECT o_orderkey, round(o_totalprice, 2) AS p FROM
      |  (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10) t""".stripMargin,
    """SELECT o_orderkey, round(o_totalprice,2) AS p FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)

  // -------------------------------------------------------------- set ops
  q("SET-UNION",
    """SELECT k FROM (
      |  SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey AS k FROM supplier
      |) ORDER BY k""".stripMargin,
    """SELECT k FROM (
      |  SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey AS k FROM supplier
      |) t ORDER BY k""".stripMargin)

  q("SET-UNION-ALL",
    """SELECT count(*) AS cnt FROM (
      |  SELECT c_nationkey FROM customer UNION ALL SELECT s_nationkey FROM supplier) t""".stripMargin)

  q("SET-INTERSECT",
    """SELECT c_nationkey AS k FROM customer
      |INTERSECT SELECT s_nationkey AS k FROM supplier ORDER BY k""".stripMargin,
    """SELECT c_nationkey AS k FROM customer
      |INTERSECT SELECT s_nationkey FROM supplier ORDER BY k""".stripMargin)

  q("SET-EXCEPT",
    """SELECT c_nationkey AS k FROM customer
      |EXCEPT SELECT s_nationkey AS k FROM supplier ORDER BY k""".stripMargin,
    """SELECT c_nationkey AS k FROM customer
      |EXCEPT SELECT s_nationkey FROM supplier ORDER BY k""".stripMargin)

  // ------------------------------------------------------------ scalar fn
  q("FN-STRING",
    """SELECT p_partkey, upper(p_brand) AS ub, lower(p_type) AS lt,
      |  substr(p_name, 1, 8) AS s8, length(p_name) AS ln,
      |  replace(p_brand, '#', '-') AS rp, trim(concat(' ', p_name, ' ')) AS tc,
      |  lpad(CAST(p_size AS STRING), 4, '0') AS pad
      |FROM part ORDER BY p_partkey LIMIT 40""".stripMargin,
    """SELECT p_partkey, upper(p_brand) AS ub, lower(p_type) AS lt,
      |  substr(p_name, 1, 8) AS s8, length(p_name) AS ln,
      |  replace(p_brand, '#', '-') AS rp, trim(concat(' ', p_name, ' ')) AS tc,
      |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS pad
      |FROM part ORDER BY p_partkey LIMIT 40""".stripMargin)

  q("FN-REGEX",
    """SELECT p_partkey FROM part WHERE p_type RLIKE '^(STANDARD|SMALL)'
      |ORDER BY p_partkey LIMIT 40""".stripMargin,
    """SELECT p_partkey FROM part WHERE regexp_matches(p_type, '^(STANDARD|SMALL)')
      |ORDER BY p_partkey LIMIT 40""".stripMargin)

  // higher-order array lambdas (filter / aggregate folds): both engines
  // run a SEQUENTIAL left fold in index order with per-element double
  // casts, so the float summation is bit-identical — no decimal pinning
  // needed, unlike parallel aggregates
  q("FN-HOF",
    """SELECT vec_id,
      |  size(filter(embedding, x -> x > 0)) AS n_pos,
      |  round(aggregate(embedding, CAST(0.0 AS DOUBLE),
      |    (a, x) -> a + CAST(x AS DOUBLE)), 4) AS s,
      |  round(aggregate(filter(embedding, x -> x > 0), CAST(0.0 AS DOUBLE),
      |    (a, x) -> a + CAST(x AS DOUBLE)), 4) AS pos_sum
      |FROM embeddings ORDER BY vec_id LIMIT 50""".stripMargin,
    """SELECT vec_id,
      |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
      |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(embedding, x -> CAST(x AS DOUBLE))), (a, x) -> a + x), 4) AS s,
      |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(list_filter(embedding, x -> x > 0), x -> CAST(x AS DOUBLE))), (a, x) -> a + x), 4) AS pos_sum
      |FROM embeddings ORDER BY vec_id LIMIT 50""".stripMargin)

  q("FN-DATE",
    """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
      |  day(o_orderdate) AS d, CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart
      |FROM orders ORDER BY o_orderkey LIMIT 40""".stripMargin)

  q("FN-MATH",
    """SELECT l_orderkey, l_linenumber,
      |  abs(l_discount - 0.05) AS a,
      |  CAST(floor(l_extendedprice) AS BIGINT) AS f, CAST(ceiling(l_extendedprice) AS BIGINT) AS c,
      |  round(sqrt(l_quantity), 4) AS sq, round(ln(l_extendedprice), 4) AS lg,
      |  round(power(l_tax + 1, 2), 4) AS pw, CAST(l_partkey % 7 AS BIGINT) AS md
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, f, md LIMIT 40""".stripMargin)

  q("FN-ARRAY",
    """SELECT vec_id, size(embedding) AS dim,
      |  round(CAST(embedding[0] AS DOUBLE), 4) AS e0
      |FROM embeddings ORDER BY vec_id LIMIT 40""".stripMargin,
    """SELECT vec_id, len(embedding) AS dim,
      |  round(CAST(embedding[1] AS DOUBLE), 4) AS e0
      |FROM embeddings ORDER BY vec_id LIMIT 40""".stripMargin)

  q("FN-JSON",
    """SELECT event_id, CAST(get_json_object(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id LIMIT 60""".stripMargin,
    s"""SELECT event_id, CAST(json_extract(props, '$$.k') AS BIGINT) AS k
      |FROM $EV events ORDER BY event_id LIMIT 60""".stripMargin)

  // ------------------------------------------- streaming (batch-replay)
  q("STREAM-TUMBLE",
    """SELECT CAST(floor(CAST(ts AS DOUBLE) / 21600) * 21600 AS BIGINT) AS bucket,
      |  event_type, count(*) AS c,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 100""".stripMargin,
    s"""SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket,
      |  event_type, count(*) AS c,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
      |FROM $EV events GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 100""".stripMargin)

  q("STREAM-SLIDE",
    """WITH shifts AS (SELECT 0 AS s UNION ALL SELECT 10800),
      |b AS (SELECT CAST(floor((CAST(ts AS DOUBLE) - s) / 21600) * 21600 + s AS BIGINT) AS wstart, value
      |      FROM events CROSS JOIN shifts)
      |SELECT wstart, count(*) AS c FROM b GROUP BY wstart ORDER BY wstart LIMIT 100""".stripMargin,
    s"""WITH shifts AS (SELECT 0 AS s UNION ALL SELECT 10800),
      |b AS (SELECT CAST(floor((epoch(ts) - s) / 21600) * 21600 + s AS BIGINT) AS wstart, value
      |      FROM $EV events CROSS JOIN shifts)
      |SELECT wstart, count(*) AS c FROM b GROUP BY wstart ORDER BY wstart LIMIT 100""".stripMargin)

  // one window pass: the session count is max(running sum of new_s) =
  // sum(new_s), so Spark needs no second, differently ordered window; the
  // oracle runs the running-sum form
  q("STREAM-SESSION",
    """WITH g AS (
      |  SELECT user_id, ts,
      |    CASE WHEN CAST(ts AS DOUBLE) - CAST(lag(ts) OVER w AS DOUBLE) > 1800
      |         OR lag(ts) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    s"""WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
      |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM $EV events),
      |s AS (SELECT user_id, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM g)
      |SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin)

  // --------------------------------------------------------- LLM pipeline
  q("LLM-COSINE-TOPK",
    """WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id,
      |  round(
      |    aggregate(zip_with(e.embedding, probe.p, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)
      |    / (sqrt(aggregate(e.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
      |     * sqrt(aggregate(probe.p, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 3) AS cos
      |FROM embeddings e CROSS JOIN probe
      |WHERE e.vec_id <> 0
      |ORDER BY cos DESC, e.vec_id LIMIT 5""".stripMargin,
    """WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id,
      |  round(CAST(list_cosine_similarity(e.embedding, probe.p) AS DOUBLE), 3) AS cos
      |FROM embeddings e CROSS JOIN probe
      |WHERE e.vec_id <> 0
      |ORDER BY cos DESC, e.vec_id LIMIT 5""".stripMargin)

  q("LLM-DEDUP",
    """SELECT count(*) AS docs, count(DISTINCT md5(lower(text))) AS uniq
      |FROM documents""".stripMargin)

  q("LLM-TOKENIZE",
    """SELECT doc_id, size(split(text, ' ')) AS n_tokens
      |FROM documents ORDER BY doc_id LIMIT 50""".stripMargin,
    """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      |FROM documents ORDER BY doc_id LIMIT 50""".stripMargin)

  // --------------------------------------------------------- ingest parse
  q("PARSE-DECONSTRUCT",
    """SELECT t.metric, CAST(t.v AS DOUBLE) AS value, CAST(t.e AS BIGINT) AS epoch
      |FROM (
      |  SELECT split(line, ' ')[0] AS metric, split(line, ' ')[1] AS v, split(line, ' ')[2] AS e
      |  FROM (SELECT concat('svc.', event_type, '.count ', CAST(round(value,2) AS STRING), ' ',
      |               CAST(CAST(ts AS DECIMAL(20,0)) AS STRING)) AS line FROM events) raw
      |) t ORDER BY epoch, metric LIMIT 50""".stripMargin,
    s"""SELECT t.metric, CAST(t.v AS DOUBLE) AS value, CAST(t.e AS BIGINT) AS epoch
      |FROM (
      |  SELECT string_split(line, ' ')[1] AS metric, string_split(line, ' ')[2] AS v, string_split(line, ' ')[3] AS e
      |  FROM (SELECT concat('svc.', event_type, '.count ', CAST(round(value,2) AS VARCHAR), ' ',
      |               CAST(CAST(epoch(ts) AS BIGINT) AS VARCHAR)) AS line FROM $EV events) raw
      |) t ORDER BY epoch, metric LIMIT 50""".stripMargin)

  // ------------------------------------------------- round-2 additions
  // (validated cross-engine at sf0.001/0.01/0.1 before declaration, same
  // rules: total-order sorts, identical aliases, pinned float aggregates)

  q("AGG-PIVOT",
    """SELECT o_orderpriority, coalesce(F, 0) AS f_cnt, coalesce(O, 0) AS o_cnt, coalesce(P, 0) AS p_cnt
      |FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
      |PIVOT (count(*) FOR o_orderstatus IN ('F', 'O', 'P'))
      |ORDER BY o_orderpriority""".stripMargin,
    """SELECT o_orderpriority,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_cnt,
      |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_cnt,
      |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_cnt
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  // exact interpolated percentiles (Spark percentile == DuckDB quantile_cont).
  // Spark runs a per-group sort + rank arithmetic instead of percentile(),
  // whose aggregate buffers every value of a group and sorts it on one
  // thread: the window keeps <= 4 candidate rows per group before the agg.
  // The count shares the rank's window spec (one sort), and positions and
  // interpolation stay DECIMAL (double loses ...145 boundary cases at sf0.1).
  q("AGG-MEDIAN",
    """WITH r AS (
      |  SELECT o_orderstatus, v,
      |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY v) AS rn,
      |    1 + (count(1) OVER (PARTITION BY o_orderstatus ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - 1) * 0.5 AS pos50,
      |    1 + (count(1) OVER (PARTITION BY o_orderstatus ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - 1) * 0.9 AS pos90
      |  FROM (SELECT o_orderstatus, o_totalprice AS v FROM orders) o)
      |SELECT o_orderstatus,
      |  round(max(CASE WHEN rn = floor(pos50) THEN v END)
      |    + (max(pos50) - max(floor(pos50)))
      |      * (coalesce(max(CASE WHEN rn = floor(pos50) + 1 THEN v END),
      |                  max(CASE WHEN rn = floor(pos50) THEN v END))
      |         - max(CASE WHEN rn = floor(pos50) THEN v END)), 2) AS med,
      |  round(max(CASE WHEN rn = floor(pos90) THEN v END)
      |    + (max(pos90) - max(floor(pos90)))
      |      * (coalesce(max(CASE WHEN rn = floor(pos90) + 1 THEN v END),
      |                  max(CASE WHEN rn = floor(pos90) THEN v END))
      |         - max(CASE WHEN rn = floor(pos90) THEN v END)), 2) AS p90
      |FROM r
      |WHERE rn >= floor(pos50) AND rn <= floor(pos50) + 1
      |   OR rn >= floor(pos90) AND rn <= floor(pos90) + 1
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    """SELECT o_orderstatus, round(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 2) AS med,
      |  round(CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE), 2) AS p90
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  // winsorized moments: per-group p05/p95 clip before the statistics —
  // the standard outlier treatment for training-data numeric columns
  // RFM user segmentation (recency / frequency / monetary): per-user
  // purchase aggregates scored 1-4 against the corpus quartiles — the
  // classic CRM cell assignment. Thresholds are ONE row (broadcast on the
  // Spark side), scores pure CASE arithmetic — no global window, no ntile
  // sort; quartile ties resolve identically because both engines compare
  // the same interpolated doubles.
  q("EVENT-RFM",
    """WITH u AS (
      |  SELECT user_id, max(CAST(ts AS DOUBLE)) AS rec, count(*) AS freq,
      |         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS mon
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |t AS (SELECT
      |  percentile(rec, 0.25) AS r1, percentile(rec, 0.5) AS r2, percentile(rec, 0.75) AS r3,
      |  percentile(freq, 0.25) AS f1, percentile(freq, 0.5) AS f2, percentile(freq, 0.75) AS f3,
      |  percentile(mon, 0.25) AS m1, percentile(mon, 0.5) AS m2, percentile(mon, 0.75) AS m3
      |  FROM u),
      |s AS (SELECT u.user_id,
      |  1 + CAST(u.rec > t.r1 AS INT) + CAST(u.rec > t.r2 AS INT) + CAST(u.rec > t.r3 AS INT) AS r_score,
      |  1 + CAST(u.freq > t.f1 AS INT) + CAST(u.freq > t.f2 AS INT) + CAST(u.freq > t.f3 AS INT) AS f_score,
      |  1 + CAST(u.mon > t.m1 AS INT) + CAST(u.mon > t.m2 AS INT) + CAST(u.mon > t.m3 AS INT) AS m_score
      |  FROM u CROSS JOIN t)
      |SELECT user_id, r_score, f_score, m_score,
      |  r_score * 100 + f_score * 10 + m_score AS rfm_cell
      |FROM s ORDER BY user_id LIMIT 200""".stripMargin,
    """WITH u AS (
      |  SELECT user_id, max(epoch(CAST(ts AS TIMESTAMP))) AS rec, count(*) AS freq,
      |         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS mon
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |t AS (SELECT
      |  quantile_cont(rec, 0.25) AS r1, quantile_cont(rec, 0.5) AS r2, quantile_cont(rec, 0.75) AS r3,
      |  quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2, quantile_cont(freq, 0.75) AS f3,
      |  quantile_cont(mon, 0.25) AS m1, quantile_cont(mon, 0.5) AS m2, quantile_cont(mon, 0.75) AS m3
      |  FROM u),
      |s AS (SELECT u.user_id,
      |  1 + CAST(u.rec > t.r1 AS INT) + CAST(u.rec > t.r2 AS INT) + CAST(u.rec > t.r3 AS INT) AS r_score,
      |  1 + CAST(u.freq > t.f1 AS INT) + CAST(u.freq > t.f2 AS INT) + CAST(u.freq > t.f3 AS INT) AS f_score,
      |  1 + CAST(u.mon > t.m1 AS INT) + CAST(u.mon > t.m2 AS INT) + CAST(u.mon > t.m3 AS INT) AS m_score
      |  FROM u CROSS JOIN t)
      |SELECT user_id, r_score, f_score, m_score,
      |  r_score * 100 + f_score * 10 + m_score AS rfm_cell
      |FROM s ORDER BY user_id LIMIT 200""".stripMargin)

  q("AGG-WINSOR",
    """WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL),
      |b AS (SELECT event_type, percentile(value, 0.05) AS lo, percentile(value, 0.95) AS hi
      |      FROM ev GROUP BY event_type),
      |x AS (SELECT /*+ BROADCAST(b) */ event_type, greatest(lo, least(hi, value)) AS w
      |      FROM ev JOIN b USING (event_type))
      |SELECT event_type AS g, round(avg(w), 4) AS wmean, round(stddev_samp(w), 4) AS wstd,
      |  count(*) AS n
      |FROM x GROUP BY event_type ORDER BY g""".stripMargin,
    """WITH b AS (SELECT event_type, quantile_cont(value, 0.05) AS lo,
      |  quantile_cont(value, 0.95) AS hi
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type)
      |SELECT e.event_type AS g,
      |  round(avg(greatest(b.lo, least(b.hi, e.value))), 4) AS wmean,
      |  round(stddev_samp(greatest(b.lo, least(b.hi, e.value))), 4) AS wstd,
      |  count(*) AS n
      |FROM events e JOIN b ON e.event_type = b.event_type
      |WHERE e.value IS NOT NULL
      |GROUP BY e.event_type ORDER BY g""".stripMargin)

  // the collected array is string-encoded ('|' joined) in BOTH dialects:
  // raw ARRAY output columns crash the driver's pandas canonicalizer
  // (unhashable ndarray in sort_values) — same pattern as AGG-STRING
  q("AGG-COLLECT",
    """SELECT c_nationkey AS k,
      |  array_join(transform(sort_array(collect_list(c_custkey)), x -> CAST(x AS STRING)), '|') AS ids,
      |  count(*) AS n
      |FROM customer WHERE c_custkey <= 40 GROUP BY c_nationkey ORDER BY k""".stripMargin,
    """SELECT c_nationkey AS k,
      |  coalesce(array_to_string(list_sort(list(c_custkey)), '|'), '') AS ids,
      |  count(*) AS n
      |FROM customer WHERE c_custkey <= 40 GROUP BY c_nationkey ORDER BY k""".stripMargin)

  q("AGG-FILTERED",
    """SELECT event_type, count_if(value > 50) AS big, count_if(value <= 50) AS small
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    s"""SELECT event_type, count(*) FILTER (WHERE value > 50) AS big,
      |  count(*) FILTER (WHERE value <= 50) AS small
      |FROM $EV e GROUP BY event_type ORDER BY event_type""".stripMargin)

  q("WIN-CUME-DIST",
    """SELECT o_orderkey, round(cume_dist() OVER w, 4) AS cd, round(percent_rank() OVER w, 4) AS pr
      |FROM orders WHERE o_custkey < 50
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey LIMIT 60""".stripMargin)

  q("WIN-FIRST-LAST",
    """SELECT event_id, round(first_value(value) OVER w, 2) AS fv,
      |  round(last_value(value) OVER w, 2) AS lv, round(nth_value(value, 2) OVER w, 2) AS nv
      |FROM events WHERE user_id < 3
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY event_id LIMIT 60""".stripMargin,
    s"""SELECT event_id, round(first_value(value) OVER w, 2) AS fv,
      |  round(last_value(value) OVER w, 2) AS lv, round(nth_value(value, 2) OVER w, 2) AS nv
      |FROM $EV e WHERE user_id < 3
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY event_id LIMIT 60""".stripMargin)

  q("JOIN-CROSS",
    """SELECT a, b FROM (SELECT r_name AS a FROM region) r1
      |CROSS JOIN (SELECT r_name AS b FROM region) r2 ORDER BY a, b""".stripMargin,
    "SELECT r1.r_name AS a, r2.r_name AS b FROM region r1 CROSS JOIN region r2 ORDER BY a, b")

  q("SET-INTERSECT-ALL",
    """SELECT c_nationkey AS k FROM customer
      |INTERSECT ALL SELECT s_nationkey AS k FROM supplier ORDER BY k""".stripMargin,
    """SELECT k FROM (SELECT c_nationkey AS k FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier) t
      |ORDER BY k""".stripMargin)

  q("SET-EXCEPT-ALL",
    """SELECT c_nationkey AS k FROM customer WHERE c_custkey <= 300
      |EXCEPT ALL SELECT s_nationkey AS k FROM supplier ORDER BY k""".stripMargin,
    """SELECT k FROM (SELECT c_nationkey AS k FROM customer WHERE c_custkey <= 300
      |EXCEPT ALL SELECT s_nationkey FROM supplier) t ORDER BY k""".stripMargin)

  q("FN-EXPLODE",
    """SELECT doc_id, pos, tok
      |FROM (SELECT doc_id, posexplode(split(text, ' ')) AS (pos, tok) FROM documents WHERE doc_id < 5)
      |ORDER BY doc_id, pos""".stripMargin,
    """SELECT doc_id, i - 1 AS pos, t[i] AS tok
      |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 5) d
      |CROSS JOIN unnest(generate_series(1, len(t))) AS g(i)
      |ORDER BY doc_id, pos""".stripMargin)

  q("FN-BITWISE",
    """SELECT event_id, event_id & 255 AS ba, event_id | 15 AS bo,
      |  CAST(event_id ^ user_id AS BIGINT) AS bx, shiftleft(user_id, 3) AS sl,
      |  shiftright(event_id, 2) AS sr, CAST(bit_count(event_id) AS INT) AS bc
      |FROM events ORDER BY event_id LIMIT 50""".stripMargin,
    """SELECT event_id, event_id & 255 AS ba, event_id | 15 AS bo,
      |  CAST(xor(event_id, user_id) AS BIGINT) AS bx, user_id << 3 AS sl,
      |  event_id >> 2 AS sr, CAST(bit_count(event_id) AS INT) AS bc
      |FROM events ORDER BY event_id LIMIT 50""".stripMargin)

  q("FN-COND",
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 100000 THEN 'high' WHEN o_totalprice > 10000 THEN 'mid' ELSE 'low' END AS band,
      |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS st,
      |  greatest(o_custkey, 500) AS g, least(o_custkey, 100) AS l
      |FROM orders ORDER BY o_orderkey LIMIT 50""".stripMargin)

  q("FN-STRUCT",
    """SELECT s.k AS k, s.p AS p
      |FROM (SELECT named_struct('k', o_orderkey, 'p', round(o_totalprice, 2)) AS s FROM orders) t
      |ORDER BY k LIMIT 40""".stripMargin,
    """SELECT (s).k AS k, (s).p AS p
      |FROM (SELECT struct_pack(k := o_orderkey, p := round(o_totalprice, 2)) AS s FROM orders) t
      |ORDER BY k LIMIT 40""".stripMargin)

  // counter → rate (the metricproxy CUMULATIVE_COUNTER shape); `+ 0.0`
  // normalizes IEEE -0.0 (engines disagree on the sign of a rounded -eps)
  q("TS-RATE",
    """WITH x AS (SELECT user_id, event_id, CAST(ts AS DOUBLE) AS et, value,
      |  lag(value) OVER w AS pv, lag(CAST(ts AS DOUBLE)) OVER w AS pet
      |FROM events WHERE user_id < 5
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, event_id, round((value - pv) / (et - pet), 4) + 0.0 AS rate
      |FROM x WHERE pv IS NOT NULL AND et > pet ORDER BY user_id, event_id""".stripMargin,
    s"""WITH x AS (SELECT user_id, event_id, epoch(ts) AS et, value,
      |  lag(value) OVER w AS pv, lag(epoch(ts)) OVER w AS pet
      |FROM $EV e WHERE user_id < 5
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, event_id, round((value - pv) / (et - pet), 4) + 0.0 AS rate
      |FROM x WHERE pv IS NOT NULL AND et > pet ORDER BY user_id, event_id""".stripMargin)

  // PromQL's remaining counter/instant functions in one per-series pass:
  // resets (value drops — counter restarts), changes (any value change),
  // irate (rate of the LAST adjacent pair — the spiky-counter dashboard
  // default), idelta (last pair's delta). One series window + one
  // aggregate; the last pair is picked by a row_number over the FILTERED
  // pair set so zero-dt ties can't select an excluded row.
  q("TS-RESETS",
    """WITH e AS (SELECT event_type, event_id, CAST(ts AS DOUBLE) AS ep, value
      |           FROM events WHERE user_id < 5),
      |l AS (SELECT event_type, event_id, ep, value,
      |        lag(value) OVER w AS pv, lag(ep) OVER w AS pe
      |      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ep, event_id)),
      |f AS (SELECT *, row_number() OVER
      |        (PARTITION BY event_type ORDER BY ep DESC, event_id DESC) AS rdesc
      |      FROM l WHERE pe IS NOT NULL AND ep > pe)
      |SELECT event_type,
      |  sum(CASE WHEN value < pv THEN 1 ELSE 0 END) AS resets,
      |  sum(CASE WHEN value <> pv THEN 1 ELSE 0 END) AS changes,
      |  round(max(CASE WHEN rdesc = 1 THEN
      |    CASE WHEN value >= pv THEN (value - pv) / (ep - pe)
      |         ELSE value / (ep - pe) END END), 4) + 0.0 AS irate,
      |  round(max(CASE WHEN rdesc = 1 THEN value - pv END), 4) + 0.0 AS idelta
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    s"""WITH e AS (SELECT event_type, event_id, epoch(ts) AS ep, value
      |           FROM $EV e WHERE user_id < 5),
      |l AS (SELECT event_type, event_id, ep, value,
      |        lag(value) OVER w AS pv, lag(ep) OVER w AS pe
      |      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ep, event_id)),
      |f AS (SELECT *, row_number() OVER
      |        (PARTITION BY event_type ORDER BY ep DESC, event_id DESC) AS rdesc
      |      FROM l WHERE pe IS NOT NULL AND ep > pe)
      |SELECT event_type,
      |  CAST(sum(CASE WHEN value < pv THEN 1 ELSE 0 END) AS BIGINT) AS resets,
      |  CAST(sum(CASE WHEN value <> pv THEN 1 ELSE 0 END) AS BIGINT) AS changes,
      |  round(max(CASE WHEN rdesc = 1 THEN
      |    CASE WHEN value >= pv THEN (value - pv) / (ep - pe)
      |         ELSE value / (ep - pe) END END), 4) + 0.0 AS irate,
      |  round(max(CASE WHEN rdesc = 1 THEN value - pv END), 4) + 0.0 AS idelta
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin)

  // Prometheus-style alert rule evaluation with a FOR clause — the
  // condition (value > threshold) must hold over a RUN of consecutive
  // points spanning >= the hold duration before the alert fires. Classic
  // gaps-and-islands: run id = row_number over the series minus
  // row_number over the flagged subset; per-run first/last timestamps
  // give the hold check. Emits one row per firing run (the alert event a
  // rule engine would publish), with start/end/points/duration.
  q("TS-ALERT-FOR",
    """WITH e AS (SELECT event_type, event_id, CAST(ts AS LONG) AS ep, value
      |           FROM events WHERE user_id < 5),
      |f AS (SELECT *, row_number() OVER
      |        (PARTITION BY event_type ORDER BY ep, event_id) AS rall
      |      FROM e),
      |g AS (SELECT *, rall - row_number() OVER
      |        (PARTITION BY event_type ORDER BY ep, event_id) AS grp
      |      FROM f WHERE value > 100),
      |runs AS (SELECT event_type, grp,
      |    min(ep) AS astart0, max(ep) AS aend0, count(*) AS npts
      |  FROM g GROUP BY event_type, grp)
      |SELECT event_type, astart0 AS astart, aend0 AS aend, npts, aend0 - astart0 AS dur
      |FROM runs WHERE npts >= 2 AND aend0 - astart0 >= 600
      |ORDER BY event_type, astart""".stripMargin,
    s"""WITH e AS (SELECT event_type, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, value
      |           FROM $EV e WHERE user_id < 5),
      |f AS (SELECT *, row_number() OVER
      |        (PARTITION BY event_type ORDER BY ep, event_id) AS rall
      |      FROM e),
      |g AS (SELECT *, rall - row_number() OVER
      |        (PARTITION BY event_type ORDER BY ep, event_id) AS grp
      |      FROM f WHERE value > 100),
      |runs AS (SELECT event_type, grp,
      |    min(ep) AS astart, max(ep) AS aend, CAST(count(*) AS BIGINT) AS npts
      |  FROM g GROUP BY event_type, grp)
      |SELECT event_type, astart,
      |  aend, npts,
      |  aend - astart AS dur
      |FROM runs WHERE npts >= 2 AND aend - astart >= 600
      |ORDER BY event_type, astart""".stripMargin)

  // A/B experiment readout — the analysis every product experiment runs:
  // deterministic variant assignment (stable user hash; user_id % 2 here,
  // the oracle-portable form), per-user conversion (>= 1 purchase), and
  // the two-proportion pooled z-score. One distinct-user aggregate + one
  // tiny per-variant aggregate; a degenerate pool (0% or 100% conversion) pins z to 0 — no detectable
  // difference, and the variance term would be 0/0; the z arithmetic is
  // plain doubles
  // (p-values need erf, which neither engine ships as a builtin — the
  // z-score IS the portable contract, and any |z| threshold is the
  // significance test). Spark reads each variant through a global
  // aggregate over its filtered rows, so an empty variant still yields one
  // row of nulls, as the oracle's scalar subqueries do.
  q("EVENT-ABTEST",
    """WITH u AS (SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv, user_id % 2 AS v
      |  FROM events GROUP BY user_id),
      |s AS (SELECT v, count(*) AS n, sum(conv) AS c FROM u GROUP BY v)
      |SELECT n_a, n_b, c_a AS conv_a, c_b AS conv_b,
      |  round(CAST(c_a AS DOUBLE) / n_a, 4) AS rate_a,
      |  round(CAST(c_b AS DOUBLE) / n_b, 4) AS rate_b,
      |  round(CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN 0.0D
      |    ELSE (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b) /
      |      sqrt((CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE)) / (n_a + n_b) *
      |           (1 - (CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE)) / (n_a + n_b)) *
      |           (1.0D / n_a + 1.0D / n_b)) END, 4) + 0.0D AS z
      |FROM (SELECT max(n) AS n_a, max(c) AS c_a FROM s WHERE v = 0) a
      |CROSS JOIN (SELECT max(n) AS n_b, max(c) AS c_b FROM s WHERE v = 1) b""".stripMargin,
    s"""WITH u AS (SELECT user_id, user_id % 2 AS v,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM $EV e GROUP BY user_id),
      |s AS (SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c
      |      FROM u GROUP BY v),
      |ab AS (SELECT
      |    (SELECT n FROM s WHERE v = 0) AS n_a, (SELECT c FROM s WHERE v = 0) AS c_a,
      |    (SELECT n FROM s WHERE v = 1) AS n_b, (SELECT c FROM s WHERE v = 1) AS c_b)
      |SELECT n_a, n_b, c_a AS conv_a, c_b AS conv_b,
      |  round(CAST(c_a AS DOUBLE) / n_a, 4) AS rate_a,
      |  round(CAST(c_b AS DOUBLE) / n_b, 4) AS rate_b,
      |  round(CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN 0.0
      |    ELSE (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b) /
      |      sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)) *
      |           (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)) *
      |           (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) END, 4) + 0.0 AS z
      |FROM ab""".stripMargin)

  // PromQL histogram_quantile over cumulative bucket counters — THE
  // monitoring-histogram estimator: fixed le bounds, per-series window
  // cumsum, then for each q the lowest bucket whose cumulative count
  // reaches q·total, linearly interpolated inside the bucket; the +Inf
  // bucket clamps to the highest finite bound (PromQL's rule).
  q("TS-HIST-QUANTILE",
    """WITH b AS (SELECT event_type, le, count(*) AS cnt FROM
      |   (SELECT event_type,
      |      CASE WHEN value <= 50 THEN 50.0D WHEN value <= 100 THEN 100.0D
      |           WHEN value <= 200 THEN 200.0D WHEN value <= 400 THEN 400.0D
      |           ELSE 999999.0D END AS le FROM events) e
      |  GROUP BY event_type, le),
      |c AS (SELECT event_type, le, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY le) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS total
      |  FROM b),
      |sel AS (SELECT c.*, qs.q, row_number() OVER
      |          (PARTITION BY event_type, q ORDER BY le) AS rn
      |        FROM c CROSS JOIN VALUES (0.50D), (0.90D), (0.99D) AS qs(q)
      |        WHERE cum >= q * total)
      |SELECT event_type, q,
      |  round(CASE WHEN le = 999999.0D THEN 400.0D
      |        ELSE CASE WHEN le = 50.0D THEN 0.0D WHEN le = 100.0D THEN 50.0D
      |             WHEN le = 200.0D THEN 100.0D WHEN le = 400.0D THEN 200.0D
      |             ELSE 400.0D END
      |          + (le - CASE WHEN le = 50.0D THEN 0.0D WHEN le = 100.0D THEN 50.0D
      |             WHEN le = 200.0D THEN 100.0D WHEN le = 400.0D THEN 200.0D
      |             ELSE 400.0D END) * (q * total - (cum - cnt)) / cnt END, 4) AS est
      |FROM sel WHERE rn = 1 ORDER BY event_type, q""".stripMargin,
    s"""WITH b AS (SELECT event_type,
      |    CASE WHEN value <= 50 THEN 50.0 WHEN value <= 100 THEN 100.0
      |         WHEN value <= 200 THEN 200.0 WHEN value <= 400 THEN 400.0
      |         ELSE 999999.0 END AS le, count(*) AS cnt
      |  FROM $EV e GROUP BY 1, 2),
      |c AS (SELECT event_type, le, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY le) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS total
      |  FROM b),
      |qs AS (SELECT CAST(0.50 AS DOUBLE) AS q UNION ALL
      |       SELECT CAST(0.90 AS DOUBLE) UNION ALL SELECT CAST(0.99 AS DOUBLE)),
      |sel AS (SELECT c.*, qs.q, row_number() OVER
      |          (PARTITION BY event_type, q ORDER BY le) AS rn
      |        FROM c CROSS JOIN qs WHERE cum >= q * total),
      |p AS (SELECT event_type, q, le, cnt, cum, total,
      |        CASE WHEN le = 50.0 THEN 0.0 WHEN le = 100.0 THEN 50.0
      |             WHEN le = 200.0 THEN 100.0 WHEN le = 400.0 THEN 200.0
      |             ELSE 400.0 END AS lo
      |      FROM sel WHERE rn = 1)
      |SELECT event_type, q,
      |  round(CASE WHEN le = 999999.0 THEN 400.0
      |        ELSE lo + (le - lo) * (q * total - (cum - cnt)) / cnt END, 4) AS est
      |FROM p ORDER BY event_type, q""".stripMargin)

  q("TS-GAPFILL",
    """WITH b AS (SELECT CAST(floor(CAST(ts AS DOUBLE) / 21600) * 21600 AS BIGINT) AS bucket, count(*) AS c
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |r AS (SELECT explode(sequence(mn, mx, 21600)) AS bucket
      |      FROM (SELECT min(bucket) AS mn, max(bucket) AS mx FROM b) t)
      |SELECT r.bucket, coalesce(b.c, 0) AS c FROM r LEFT JOIN b ON r.bucket = b.bucket
      |ORDER BY r.bucket""".stripMargin,
    s"""WITH b AS (SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket, count(*) AS c
      |  FROM $EV e WHERE event_type = 'click' GROUP BY 1),
      |r AS (SELECT CAST(g.bucket AS BIGINT) AS bucket
      |      FROM (SELECT min(bucket) AS mn, max(bucket) AS mx FROM b) t
      |      CROSS JOIN unnest(generate_series(t.mn, t.mx, 21600)) AS g(bucket))
      |SELECT r.bucket, coalesce(b.c, 0) AS c FROM r LEFT JOIN b ON r.bucket = b.bucket
      |ORDER BY r.bucket""".stripMargin)

  // gap-fill + last-observation-carried-forward (max per bucket: exact in
  // both engines, unlike a float avg whose half-point rounding can differ)
  q("TS-LOCF",
    """WITH b AS (SELECT user_id, CAST(floor(CAST(ts AS DOUBLE) / 21600) * 21600 AS BIGINT) AS bucket,
      |  round(max(value), 2) AS v FROM events WHERE user_id < 3 GROUP BY 1, 2),
      |r AS (SELECT u.user_id, g.bucket FROM (SELECT DISTINCT user_id FROM b) u
      |      CROSS JOIN (SELECT explode(sequence(mn, mx, 21600)) AS bucket
      |                  FROM (SELECT min(bucket) AS mn, max(bucket) AS mx FROM b) t) g)
      |SELECT r.user_id, r.bucket, last_value(b.v, true) OVER
      |  (PARTITION BY r.user_id ORDER BY r.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      |FROM r LEFT JOIN b ON r.user_id = b.user_id AND r.bucket = b.bucket
      |ORDER BY r.user_id, r.bucket""".stripMargin,
    s"""WITH b AS (SELECT user_id, CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket,
      |  round(max(value), 2) AS v FROM $EV e WHERE user_id < 3 GROUP BY 1, 2),
      |r AS (SELECT u.user_id, CAST(g.bucket AS BIGINT) AS bucket FROM (SELECT DISTINCT user_id FROM b) u
      |      CROSS JOIN (SELECT min(bucket) AS mn, max(bucket) AS mx FROM b) t
      |      CROSS JOIN unnest(generate_series(t.mn, t.mx, 21600)) AS g(bucket))
      |SELECT r.user_id, r.bucket, last_value(b.v IGNORE NULLS) OVER
      |  (PARTITION BY r.user_id ORDER BY r.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      |FROM r LEFT JOIN b ON r.user_id = b.user_id AND r.bucket = b.bucket
      |ORDER BY r.user_id, r.bucket""".stripMargin)

  // deterministic hash-mod sampling via the portable polynomial hash
  // (graft_poly_hash = the codegen expression; the oracle inlines the
  // identical char fold)
  q("SAMPLE-HASH",
    """SELECT count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
      |FROM (SELECT value, graft_poly_hash(concat(event_type, '#', CAST(event_id AS STRING))) AS h
      |      FROM events) t
      |WHERE h % 20 = 0""".stripMargin,
    """SELECT count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
      |FROM (SELECT value, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(generate_series(1, CAST(length(concat(event_type, '#', CAST(event_id AS VARCHAR))) AS INT)),
      |          i -> CAST(ascii(substr(concat(event_type, '#', CAST(event_id AS VARCHAR)), CAST(i AS INT), 1)) AS BIGINT))),
      |        (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      |      FROM events) t
      |WHERE h % 20 = 0""".stripMargin)

  // balanced per-class sampling: a FIXED COUNT per class (dataset
  // curation's class-rebalance shape — SAMPLE-STRATIFIED's per-class
  // RATES can't equalize counts), deterministic via the portable hash;
  // the per-class window is partitioned on the class key, so the plan
  // scales with class cardinality, never a global sort
  q("SAMPLE-BALANCED",
    """SELECT label, vec_id
      |FROM (SELECT label, vec_id,
      |        row_number() OVER (PARTITION BY label
      |          ORDER BY graft_poly_hash(CAST(vec_id AS STRING)), vec_id) AS rn
      |      FROM embeddings) t
      |WHERE rn <= 5 ORDER BY label, vec_id""".stripMargin,
    """SELECT label, vec_id
      |FROM (SELECT label, vec_id,
      |        row_number() OVER (PARTITION BY label ORDER BY h, vec_id) AS rn
      |      FROM (SELECT label, vec_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |              list_transform(generate_series(1, CAST(length(CAST(vec_id AS VARCHAR)) AS INT)),
      |                i -> CAST(ascii(substr(CAST(vec_id AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
      |              (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      |            FROM embeddings) u) t
      |WHERE rn <= 5 ORDER BY label, vec_id""".stripMargin)

  // SAMPLE-BALANCED's scale twin: identical rows from the bounded-heap
  // aggregate instead of the per-class window sort — bottom-5 by hash is
  // top-5 by negated hash, and the zero-padded item string makes the
  // heap's tie-break equal the window's numeric vec_id order. ≤ k rows
  // per class per map partition instead of a full per-class sort.
  q("SAMPLE-BALANCED-SCALE",
    """WITH t AS (SELECT label,
      |    graft_topk_by(-CAST(graft_poly_hash(CAST(vec_id AS STRING)) AS DOUBLE),
      |      lpad(CAST(vec_id AS STRING), 12, '0'), 5) AS arr
      |  FROM embeddings GROUP BY label)
      |SELECT label, CAST(s.item AS BIGINT) AS vec_id
      |FROM (SELECT label, explode(arr) AS s FROM t) e
      |ORDER BY label, vec_id""".stripMargin,
    """SELECT label, vec_id
      |FROM (SELECT label, vec_id,
      |        row_number() OVER (PARTITION BY label ORDER BY h, vec_id) AS rn
      |      FROM (SELECT label, vec_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |              list_transform(generate_series(1, CAST(length(CAST(vec_id AS VARCHAR)) AS INT)),
      |                i -> CAST(ascii(substr(CAST(vec_id AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
      |              (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      |            FROM embeddings) u) t
      |WHERE rn <= 5 ORDER BY label, vec_id""".stripMargin)

  // multimodal frame-sampling plumbing: byte-derived frame count, one row
  // per sampled frame (the decode itself is stubbed — deterministic digest)
  q("MM-FRAME-SAMPLE",
    """WITH m AS (SELECT doc_id AS media_id, md5(text) AS digest,
      |  length(CAST(text AS BINARY)) % 5 + 1 AS n_frames FROM documents WHERE doc_id < 10)
      |SELECT media_id, explode(sequence(0, n_frames - 1)) AS frame_idx, digest
      |FROM m ORDER BY media_id, frame_idx""".stripMargin,
    """WITH m AS (SELECT doc_id AS media_id, md5(text) AS digest,
      |  octet_length(encode(text)) % 5 + 1 AS n_frames FROM documents WHERE doc_id < 10)
      |SELECT media_id, CAST(g.i AS INT) AS frame_idx, digest
      |FROM m CROSS JOIN unnest(generate_series(0, n_frames - 1)) AS g(i)
      |ORDER BY media_id, frame_idx""".stripMargin)

  // streaming dedup (dropDuplicates semantics), batch-replay formulation
  q("STREAM-DEDUP",
    """SELECT user_id, event_type, event_id AS first_event
      |FROM (SELECT user_id, event_type, event_id,
      |        row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      |      FROM events WHERE user_id < 20) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    s"""SELECT user_id, event_type, event_id AS first_event
      |FROM (SELECT user_id, event_type, event_id,
      |        row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      |      FROM $EV e WHERE user_id < 20) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)

  // Spark runs the decorrelated plan, pruned first: the 50 keys (limit
  // first) are broadcast as a semi join into lineitem BEFORE aggregating,
  // and a left join keeps orders without lineitems. The oracle runs the
  // correlated subquery.
  q("SUB-SCALAR",
    """WITH top AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 50),
      |agg AS (SELECT /*+ BROADCAST(t) */ l_orderkey,
      |          round(CAST(max(l_quantity) AS DOUBLE), 2) AS maxq
      |        FROM lineitem LEFT SEMI JOIN (SELECT o_orderkey AS k FROM top) t ON l_orderkey = k
      |        GROUP BY l_orderkey)
      |SELECT o_orderkey, maxq FROM top LEFT JOIN agg ON o_orderkey = l_orderkey
      |ORDER BY o_orderkey""".stripMargin,
    """SELECT o_orderkey,
      |  (SELECT round(CAST(max(l_quantity) AS DOUBLE), 2) FROM lineitem WHERE l_orderkey = o_orderkey) AS maxq
      |FROM orders ORDER BY o_orderkey LIMIT 50""".stripMargin)

  q("TEXT-VOCAB",
    """SELECT tok, count(*) AS freq FROM (SELECT explode(split(text, ' ')) AS tok FROM documents) t
      |GROUP BY tok ORDER BY freq DESC, tok LIMIT 20""".stripMargin,
    """SELECT tok, count(*) AS freq FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
      |GROUP BY tok ORDER BY freq DESC, tok LIMIT 20""".stripMargin)

  q("TEXT-BIGRAMS",
    """WITH toks AS (SELECT doc_id, split(text,' ') AS t FROM documents),
      |b AS (SELECT concat(t[i-1], ' ', t[i]) AS bigram
      |      FROM toks LATERAL VIEW explode(sequence(1, size(t)-1)) s AS i)
      |SELECT bigram, count(*) AS freq FROM b GROUP BY bigram ORDER BY freq DESC, bigram LIMIT 20""".stripMargin,
    """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |b AS (SELECT concat(t[i], ' ', t[i+1]) AS bigram
      |      FROM toks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS g(i))
      |SELECT bigram, count(*) AS freq FROM b GROUP BY bigram ORDER BY freq DESC, bigram LIMIT 20""".stripMargin)

  q("LLM-QUALITY-FILTER",
    """WITH m AS (SELECT doc_id, length(text) AS n_chars, size(split(text,' ')) AS n_tokens,
      |  size(array_distinct(split(text,' '))) AS n_uniq FROM documents)
      |SELECT doc_id, n_tokens FROM m
      |WHERE n_tokens BETWEEN 30 AND 90
      |  AND n_chars / n_tokens BETWEEN 3 AND 12
      |  AND CAST(n_uniq AS DOUBLE) / n_tokens > 0.4
      |ORDER BY doc_id LIMIT 60""".stripMargin,
    """WITH m AS (SELECT doc_id, length(text) AS n_chars, len(string_split(text,' ')) AS n_tokens,
      |  len(list_distinct(string_split(text,' '))) AS n_uniq FROM documents)
      |SELECT doc_id, n_tokens FROM m
      |WHERE n_tokens BETWEEN 30 AND 90
      |  AND n_chars / n_tokens BETWEEN 3 AND 12
      |  AND CAST(n_uniq AS DOUBLE) / n_tokens > 0.4
      |ORDER BY doc_id LIMIT 60""".stripMargin)

  q("EMB-NORM",
    """SELECT vec_id,
      |  round(sqrt(aggregate(embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), 4) AS l2,
      |  round(CAST(embedding[0] AS DOUBLE) / sqrt(aggregate(embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), 4) + 0.0 AS e0n
      |FROM embeddings ORDER BY vec_id LIMIT 50""".stripMargin,
    """SELECT vec_id,
      |  round(sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 4) AS l2,
      |  round(CAST(embedding[1] AS DOUBLE) / sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 4) + 0.0 AS e0n
      |FROM embeddings ORDER BY vec_id LIMIT 50""".stripMargin)

  q("FN-DATEDIFF",
    """SELECT o_orderkey,
      |  datediff(DATE '1995-06-01', CAST(o_orderdate AS DATE)) AS dd,
      |  CAST(date_add(CAST(o_orderdate AS DATE), 30) AS STRING) AS d30,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS STRING) AS eom
      |FROM orders ORDER BY o_orderkey LIMIT 50""".stripMargin,
    """SELECT o_orderkey,
      |  datediff('day', CAST(o_orderdate AS DATE), DATE '1995-06-01') AS dd,
      |  CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS d30,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom
      |FROM orders ORDER BY o_orderkey LIMIT 50""".stripMargin)

  // by-name union: the DSL impl unions frames with DIFFERENT column order
  // via unionByName; the SQL twins express the aligned equivalent
  q("SET-UNION-BYNAME",
    """SELECT id, k FROM (
      |  SELECT c_custkey AS id, c_nationkey AS k FROM customer WHERE c_custkey <= 50
      |  UNION ALL
      |  SELECT s_suppkey AS id, s_nationkey AS k FROM supplier WHERE s_suppkey <= 50
      |) t ORDER BY k, id""".stripMargin)

  // LEFT (not comma/inner) lateral: engines disagree on whether an inner
  // lateral keeps the NULL row of an empty-group aggregate subquery —
  // LEFT ... ON true pins the row-preserving semantics in both; Spark runs
  // SUB-SCALAR's decorrelated, pruned-first plan
  q("JOIN-LATERAL",
    """WITH top AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 50),
      |agg AS (SELECT /*+ BROADCAST(t) */ l_orderkey,
      |          round(CAST(max(l_quantity) AS DOUBLE), 2) AS maxq
      |        FROM lineitem LEFT SEMI JOIN (SELECT o_orderkey AS k FROM top) t ON l_orderkey = k
      |        GROUP BY l_orderkey)
      |SELECT o_orderkey, maxq FROM top LEFT JOIN agg ON o_orderkey = l_orderkey
      |ORDER BY o_orderkey""".stripMargin,
    """SELECT o_orderkey, t.maxq
      |FROM orders LEFT JOIN LATERAL (SELECT round(CAST(max(l_quantity) AS DOUBLE), 2) AS maxq
      |                               FROM lineitem WHERE l_orderkey = o_orderkey) t ON true
      |ORDER BY o_orderkey LIMIT 50""".stripMargin)

  q("FN-FORMAT",
    """SELECT l_orderkey, l_linenumber,
      |  format_string('%05d|%s', l_linenumber, l_returnflag) AS tag,
      |  format_string('%.2f', round(l_extendedprice, 2)) AS price,
      |  repeat('*', CAST(l_linenumber AS INT)) AS stars
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, price LIMIT 50""".stripMargin,
    """SELECT l_orderkey, l_linenumber,
      |  printf('%05d|%s', l_linenumber, l_returnflag) AS tag,
      |  printf('%.2f', round(l_extendedprice, 2)) AS price,
      |  repeat('*', CAST(l_linenumber AS INT)) AS stars
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, price LIMIT 50""".stripMargin)

  q("AGG-STRING",
    """SELECT c_nationkey AS k,
      |  concat_ws(',', transform(sort_array(collect_list(c_custkey)), x -> CAST(x AS STRING))) AS ids
      |FROM customer WHERE c_custkey <= 40 GROUP BY c_nationkey ORDER BY k""".stripMargin,
    """SELECT c_nationkey AS k, string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS ids
      |FROM customer WHERE c_custkey <= 40 GROUP BY c_nationkey ORDER BY k""".stripMargin)

  // matches string-encoded (',' joined) in BOTH dialects — see AGG-COLLECT
  // note; Spark array_join([]) = '' but DuckDB array_to_string([]) = NULL,
  // hence the coalesce on the oracle side
  q("FN-REGEXALL",
    """SELECT p_partkey, array_join(regexp_extract_all(p_name, '[a-z]{5,}', 0), ',') AS words,
      |  size(regexp_extract_all(p_name, '[a-z]{5,}', 0)) AS n
      |FROM part ORDER BY p_partkey LIMIT 40""".stripMargin,
    """SELECT p_partkey, coalesce(array_to_string(regexp_extract_all(p_name, '[a-z]{5,}', 0), ','), '') AS words,
      |  len(regexp_extract_all(p_name, '[a-z]{5,}', 0)) AS n
      |FROM part ORDER BY p_partkey LIMIT 40""".stripMargin)

  q("AGG-GROUPING-FN",
    """SELECT coalesce(o_orderstatus, '?') AS st, coalesce(o_orderpriority, '?') AS pri,
      |  CAST(grouping(o_orderstatus) AS INT) AS g_st, CAST(grouping(o_orderpriority) AS INT) AS g_pri,
      |  count(*) AS c
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY g_st, g_pri, st, pri""".stripMargin)

  // fixed-range 20-bucket histogram (feature-stats shape): bucket edges are
  // exact integer multiples, so floor(v/30000) is engine-portable
  q("AGG-HISTOGRAM",
    """SELECT CAST(least(floor(CAST(o_totalprice AS DOUBLE) / 30000), 19) AS INT) AS bucket,
      |  count(*) AS n,
      |  round(CAST(min(o_totalprice) AS DOUBLE), 2) AS lo,
      |  round(CAST(max(o_totalprice) AS DOUBLE), 2) AS hi
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)

  // stratified deterministic sampling: per-class hash-mod rates (10% F,
  // 1% O, 50% P) — the dataset-curation shape; same portable hash as
  // SAMPLE-HASH so the oracle reproduces the exact sample
  q("SAMPLE-STRATIFIED",
    """SELECT o_orderstatus AS st, count(*) AS n,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
      |FROM (SELECT o_orderstatus, o_totalprice,
      |      graft_poly_hash(CAST(o_orderkey AS STRING)) AS h FROM orders) t
      |WHERE h % (CASE o_orderstatus WHEN 'F' THEN 10 WHEN 'O' THEN 100 ELSE 2 END) = 0
      |GROUP BY o_orderstatus ORDER BY st""".stripMargin,
    """SELECT o_orderstatus AS st, count(*) AS n,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
      |FROM (SELECT o_orderstatus, o_totalprice,
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(generate_series(1, CAST(length(CAST(o_orderkey AS VARCHAR)) AS INT)),
      |          i -> CAST(ascii(substr(CAST(o_orderkey AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
      |        (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM orders) t
      |WHERE h % (CASE o_orderstatus WHEN 'F' THEN 10 WHEN 'O' THEN 100 ELSE 2 END) = 0
      |GROUP BY o_orderstatus ORDER BY st""".stripMargin)

  // OHLC-style time-bucket downsampling (the proxy's rollup shape):
  // open/close are tie-broken by (ts, event_id) row_number — first()/last()
  // and arg_min/arg_max are tie-nondeterministic across engines
  q("TS-RESAMPLE",
    """WITH b AS (SELECT user_id, CAST(floor(CAST(ts AS DOUBLE)/21600)*21600 AS BIGINT) AS bucket,
      |    value, ts, event_id FROM events WHERE user_id < 5),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts, event_id) AS rna,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts DESC, event_id DESC) AS rnd FROM b)
      |SELECT user_id, bucket,
      |  round(max(CASE WHEN rna = 1 THEN value END), 2) AS open,
      |  round(max(CASE WHEN rnd = 1 THEN value END), 2) AS close,
      |  round(min(value), 2) AS lo, round(max(value), 2) AS hi, count(*) AS n
      |FROM r GROUP BY user_id, bucket ORDER BY user_id, bucket""".stripMargin,
    s"""WITH b AS (SELECT user_id, CAST(floor(epoch(ts)/21600)*21600 AS BIGINT) AS bucket,
      |    value, ts, event_id FROM $EV e WHERE user_id < 5),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts, event_id) AS rna,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts DESC, event_id DESC) AS rnd FROM b)
      |SELECT user_id, bucket,
      |  round(max(CASE WHEN rna = 1 THEN value END), 2) AS open,
      |  round(max(CASE WHEN rnd = 1 THEN value END), 2) AS close,
      |  round(min(value), 2) AS lo, round(max(value), 2) AS hi, count(*) AS n
      |FROM r GROUP BY user_id, bucket ORDER BY user_id, bucket""".stripMargin)

  // ratio-to-report: per-partition share via a window sum (partitioned —
  // scales, unlike the global-window contract shapes)
  q("WIN-RATIO",
    """SELECT c_custkey,
      |  round(CAST(c_acctbal AS DOUBLE) / sum(CAST(c_acctbal AS DOUBLE)) OVER (PARTITION BY c_nationkey), 6) AS share
      |FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey""".stripMargin)

  // boolean aggregates (bool_and/bool_or exist natively in both engines)
  q("AGG-BOOL",
    """SELECT o_orderstatus AS st, bool_and(o_totalprice > 900) AS all_900,
      |  bool_or(o_totalprice > 400000) AS any_400k, count(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin)

  // error-tolerant parsing: try_cast yields NULL on malformed input in
  // both engines (the proxy's log-and-skip ingest semantics, relationally)
  q("FN-TRYCAST",
    """SELECT p_partkey, try_cast(substr(p_name, 1, 3) AS INT) AS bad,
      |  try_cast(CAST(p_size AS STRING) AS INT) AS good
      |FROM part ORDER BY p_partkey LIMIT 40""".stripMargin,
    """SELECT p_partkey, try_cast(substr(p_name, 1, 3) AS INT) AS bad,
      |  try_cast(CAST(p_size AS VARCHAR) AS INT) AS good
      |FROM part ORDER BY p_partkey LIMIT 40""".stripMargin)

  // bivariate statistics (corr / sample covariance / regression slope) —
  // dual-engine validated at sf0.001/0.01/0.1 before declaration
  q("AGG-CORR",
    """SELECT l_returnflag AS f,
      |  round(corr(CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE)), 4) AS c,
      |  round(covar_samp(CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE)), 6) AS cv,
      |  round(regr_slope(CAST(l_extendedprice AS DOUBLE), CAST(l_quantity AS DOUBLE)), 4) AS sl
      |FROM lineitem GROUP BY l_returnflag ORDER BY f""".stripMargin)

  // per-group modal value — native mode() is tie-nondeterministic across
  // engines, so the contract shape is count + rank with a value tie-break
  q("AGG-MODE",
    """SELECT st, pri AS mode_pri, n FROM (
      |  SELECT st, pri, n, row_number() OVER (PARTITION BY st ORDER BY n DESC, pri) AS rn
      |  FROM (SELECT o_orderstatus AS st, o_orderpriority AS pri, count(*) AS n
      |        FROM orders GROUP BY o_orderstatus, o_orderpriority) c) t
      |WHERE rn = 1 ORDER BY st""".stripMargin,
    """SELECT st, pri AS mode_pri, n FROM (
      |  SELECT o_orderstatus AS st, o_orderpriority AS pri, count(*) AS n,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |                       ORDER BY count(*) DESC, o_orderpriority) AS rn
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority) t
      |WHERE rn = 1 ORDER BY st""".stripMargin)

  // AGG-MODE generalized to k > 1: per-group top-k most frequent values
  // (heavy hitters) — partitioned window over the tiny (group, value)
  // aggregate, never over the raw rows
  q("AGG-TOPK-FREQ",
    """SELECT event_type, rk, user_id, cnt FROM (
      |  SELECT event_type, user_id, cnt,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS rk
      |  FROM (SELECT event_type, user_id, count(*) AS cnt
      |        FROM events GROUP BY event_type, user_id) c) t
      |WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin,
    """SELECT event_type, rk, user_id, cnt FROM (
      |  SELECT event_type, user_id, count(*) AS cnt,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY count(*) DESC, user_id) AS rk
      |  FROM events GROUP BY event_type, user_id) t
      |WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin)

  // gap-based sessionization: a session breaks when the within-user gap
  // exceeds 6h. Two partitioned windows (lag → running sum of breaks), then
  // a per-session aggregate — every stage keyed on user_id, no global sort.
  // Integer-µs gap arithmetic so both engines compare exactly.
  q("WIN-SESSIONIZE",
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(unix_micros(ts)) OVER w IS NULL
      |           OR unix_micros(ts) - lag(unix_micros(ts)) OVER w > 21600000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM x)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  CAST(min(ts) AS BIGINT) AS t_start, CAST(max(ts) AS BIGINT) AS t_end
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id LIMIT 100""".stripMargin,
    s"""WITH x AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 21600000000
      |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         THEN 1 ELSE 0 END AS brk
      |  FROM $EV events),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM x)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  CAST(floor(epoch(min(ts))) AS BIGINT) AS t_start,
      |  CAST(floor(epoch(max(ts))) AS BIGINT) AS t_end
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id LIMIT 100""".stripMargin)

  // melt: wide measure columns to (metric, value) rows — the inverse of
  // AGG-PIVOT. Spark side uses Dataset.unpivot (stack in the SQL twin);
  // the duck twin is the portable UNION ALL formulation.
  q("AGG-UNPIVOT",
    """SELECT metric, count(*) AS c,
      |  round(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
      |FROM (SELECT l_discount AS disc, l_extendedprice AS price, l_quantity AS qty,
      |        l_tax AS tax FROM lineitem)
      |UNPIVOT INCLUDE NULLS (v FOR metric IN (disc, price, qty, tax))
      |GROUP BY metric ORDER BY metric""".stripMargin,
    """SELECT metric, count(*) AS c,
      |  round(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
      |FROM (
      |  SELECT 'disc' AS metric, l_discount AS v FROM lineitem
      |  UNION ALL SELECT 'price', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'qty', l_quantity FROM lineitem
      |  UNION ALL SELECT 'tax', l_tax FROM lineitem) t
      |GROUP BY metric ORDER BY metric""".stripMargin)

  // exponential moving average: an inherently SEQUENTIAL per-series fold
  // (each output depends on the previous), expressed as an ordered
  // collect + left fold so both engines run the identical double
  // arithmetic in the identical order. Scale note: per-series state must
  // fit one task (the time-series norm); for monster series the affine
  // trick applies — acc' = 0.7*acc + 0.3*x composes associatively as
  // (scale, offset) pairs, so a parallel prefix can split a series.
  q("TS-EMA",
    """SELECT event_type,
      |  size(vals) AS n,
      |  round(aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1),
      |                  (acc, x) -> acc * 0.7 + x * 0.3), 4) AS ema
      |FROM (
      |  SELECT event_type,
      |    transform(array_sort(collect_list(struct(ts, event_id, value))),
      |              s -> s.value) AS vals
      |  FROM events GROUP BY event_type) t
      |ORDER BY event_type""".stripMargin,
    """SELECT event_type,
      |  CAST(len(vals) AS INT) AS n,
      |  round(list_reduce(vals, (acc, x) -> acc * 0.7 + x * 0.3), 4) AS ema
      |FROM (
      |  SELECT event_type, list(value ORDER BY ts, event_id) AS vals
      |  FROM events GROUP BY event_type) t
      |ORDER BY event_type""".stripMargin)

  // Scale twin of TS-EMA: the SQL here IS the sequential ordered fold
  // (what the oracle checks); the DSL implementation (graft.operators
  // .SegmentedEma, served by SparkEntry) runs the PARTITIONED plan —
  // range-bucketed chunks fold independently to affine (a, b) pairs
  // (y -> decay*y + weight*x composes associatively), combined per series
  // over metadata-scale chunk summaries. No whole-series array on any
  // task; PlanAuditSpec asserts the data-side aggregate is chunk-grouped.
  q("TS-EMA-SCALE",
    """SELECT event_type,
      |  size(vals) AS n,
      |  round(aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1),
      |                  (acc, x) -> acc * 0.7 + x * 0.3), 4) AS ema
      |FROM (
      |  SELECT event_type,
      |    transform(array_sort(collect_list(struct(ts, event_id, value))),
      |              s -> s.value) AS vals
      |  FROM events GROUP BY event_type) t
      |ORDER BY event_type""".stripMargin,
    """SELECT event_type,
      |  CAST(len(vals) AS INT) AS n,
      |  round(list_reduce(vals, (acc, x) -> acc * 0.7 + x * 0.3), 4) AS ema
      |FROM (
      |  SELECT event_type, list(value ORDER BY ts, event_id) AS vals
      |  FROM events GROUP BY event_type) t
      |ORDER BY event_type""".stripMargin)

  // Funnel conversion: of the users whose first click exists, how many
  // purchase within 24h of it — the 2-step sequential-pattern shape of
  // product analytics. Every stage is a per-user aggregate or equi-join
  // (partitioned by user at scale); µs-epoch arithmetic keeps the window
  // bound exact in both engines.
  q("EVENT-FUNNEL",
    """WITH c AS (SELECT user_id, min(ts) AS first_click
      |           FROM events WHERE event_type = 'click' GROUP BY user_id),
      |conv AS (SELECT DISTINCT user_id
      |         FROM c JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      |           USING (user_id)
      |         WHERE CAST(ts AS DOUBLE) >= CAST(first_click AS DOUBLE)
      |           AND CAST(ts AS DOUBLE) <= CAST(first_click AS DOUBLE) + 86400)
      |SELECT n_clickers, n_converted,
      |  round(CAST(n_converted AS DOUBLE) / CAST(n_clickers AS DOUBLE), 4) AS conv_rate
      |FROM (SELECT count(*) AS n_clickers FROM c)
      |CROSS JOIN (SELECT count(*) AS n_converted FROM conv)""".stripMargin,
    s"""WITH c AS (SELECT user_id, min(ts) AS first_click
      |           FROM $EV events WHERE event_type = 'click' GROUP BY user_id),
      |conv AS (SELECT c.user_id
      |         FROM c JOIN $EV p
      |           ON p.user_id = c.user_id AND p.event_type = 'purchase'
      |          AND epoch(p.ts) >= epoch(c.first_click)
      |          AND epoch(p.ts) <= epoch(c.first_click) + 86400
      |         GROUP BY c.user_id)
      |SELECT (SELECT count(*) FROM c) AS n_clickers,
      |       (SELECT count(*) FROM conv) AS n_converted,
      |       round(CAST((SELECT count(*) FROM conv) AS DOUBLE)
      |             / CAST((SELECT count(*) FROM c) AS DOUBLE), 4) AS conv_rate""".stripMargin)

  // Weekly cohort retention: users bucketed by first-activity week, how
  // many are active N weeks later — all-integer counts, partitioned
  // per-user aggregates + one equi-join.
  q("EVENT-RETENTION",
    """WITH f AS (SELECT user_id,
      |             CAST(floor(CAST(min(ts) AS DOUBLE) / 604800) AS BIGINT) AS cohort
      |           FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id,
      |        CAST(floor(CAST(ts AS DOUBLE) / 604800) AS BIGINT) AS wk FROM events)
      |SELECT cohort, wk - cohort AS week_n, count(*) AS active
      |FROM f JOIN a USING (user_id)
      |WHERE wk - cohort <= 4
      |GROUP BY cohort, wk - cohort ORDER BY cohort, week_n""".stripMargin,
    s"""WITH f AS (SELECT user_id,
      |             CAST(floor(epoch(min(ts)) / 604800) AS BIGINT) AS cohort
      |           FROM $EV events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id,
      |        CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk FROM $EV events)
      |SELECT cohort, wk - cohort AS week_n, count(*) AS active
      |FROM f JOIN a ON f.user_id = a.user_id
      |WHERE wk - cohort <= 4
      |GROUP BY cohort, wk ORDER BY cohort, week_n""".stripMargin)

  // Lagged cross-correlation between two metric series (does one metric
  // LEAD another?): hourly-bucketed sums per series, the purchase series
  // shifted by 0..3 buckets, Pearson r per lag. FP discipline: bucket
  // sums are DECIMAL-exact; the moment sums (x·y etc.) are exact-integer
  // doubles re-pinned to DECIMAL; only the final closed-form r runs in
  // double — identical inputs, identical ops, bit-stable 4dp hash.
  q("TS-XCORR",
    """WITH a AS (SELECT CAST(floor(CAST(ts AS DOUBLE) / 3600) AS BIGINT) AS b,
      |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
      |           FROM events WHERE event_type = 'click' GROUP BY 1),
      |p AS (SELECT CAST(floor(CAST(ts AS DOUBLE) / 3600) AS BIGINT) AS pb,
      |             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |l AS (SELECT explode(sequence(0, 3)) AS lagh),
      |j AS (SELECT lagh, x, y FROM a CROSS JOIN l JOIN p ON pb = b + lagh),
      |m AS (SELECT lagh, count(*) AS n,
      |        CAST(count(*) AS DOUBLE) * CAST(sum(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE)
      |          - CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS num,
      |        (CAST(count(*) AS DOUBLE) * CAST(sum(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE)
      |          - CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE))
      |        * (CAST(count(*) AS DOUBLE) * CAST(sum(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE)
      |          - CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE)) AS den
      |      FROM j GROUP BY lagh)
      |SELECT lagh, n, round(num / sqrt(den), 4) AS r
      |FROM m WHERE den > 0 ORDER BY lagh""".stripMargin,
    s"""WITH a AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
      |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
      |           FROM $EV events WHERE event_type = 'click' GROUP BY 1),
      |p AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS pb,
      |             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
      |      FROM $EV events WHERE event_type = 'purchase' GROUP BY 1),
      |l AS (SELECT CAST(g.i AS INT) AS lagh FROM unnest(generate_series(0, 3)) AS g(i)),
      |j AS (SELECT lagh, x, y FROM a CROSS JOIN l JOIN p ON pb = b + lagh),
      |m AS (SELECT lagh, count(*) AS n,
      |        CAST(count(*) AS DOUBLE) * CAST(sum(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE)
      |          - CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS num,
      |        (CAST(count(*) AS DOUBLE) * CAST(sum(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE)
      |          - CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE))
      |        * (CAST(count(*) AS DOUBLE) * CAST(sum(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE)
      |          - CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE)) AS den
      |      FROM j GROUP BY lagh)
      |SELECT lagh, n, round(num / sqrt(den), 4) AS r
      |FROM m WHERE den > 0 ORDER BY lagh""".stripMargin)

  // Holt linear (double-exponential) smoothing: level + trend, the
  // proxy-domain forecast state. Same sequential-fold contract as TS-EMA,
  // with a 2-vector accumulator — both engines fold [level, trend] pairs
  // (DuckDB's list_reduce needs acc type == element type, so values ride
  // as [v, 0] pairs and the seed [x_1, 0] is prepended). α=0.3, β=0.2,
  // s_1 = (x_1, 0); double literals pinned (bare 0.3 is DECIMAL in DuckDB
  // and silently truncates the fold).
  q("TS-HOLT",
    """SELECT event_type, n, round(element_at(hb, 1), 4) AS level,
      |  round(element_at(hb, 2), 4) AS trend
      |FROM (
      |  SELECT event_type, size(vals) AS n,
      |    aggregate(slice(vals, 2, size(vals) - 1),
      |              array(element_at(vals, 1), 0.0D),
      |              (acc, x) -> array(
      |                0.3D * x + 0.7D * (element_at(acc, 1) + element_at(acc, 2)),
      |                0.2D * ((0.3D * x + 0.7D * (element_at(acc, 1) + element_at(acc, 2)))
      |                  - element_at(acc, 1)) + 0.8D * element_at(acc, 2))) AS hb
      |  FROM (
      |    SELECT event_type,
      |      transform(array_sort(collect_list(struct(ts, event_id, value))),
      |                s -> s.value) AS vals
      |    FROM events GROUP BY event_type) t) u
      |ORDER BY event_type""".stripMargin,
    """SELECT event_type, CAST(len(vals) AS INT) AS n,
      |  round(hb[1], 4) AS level, round(hb[2], 4) AS trend
      |FROM (
      |  SELECT event_type, vals,
      |    list_reduce(list_prepend([vals[1], 0.0::DOUBLE],
      |                             list_transform(vals[2:], v -> [v, 0.0::DOUBLE])),
      |      (acc, x) -> [0.3::DOUBLE * x[1] + 0.7::DOUBLE * (acc[1] + acc[2]),
      |                   0.2::DOUBLE * ((0.3::DOUBLE * x[1] + 0.7::DOUBLE * (acc[1] + acc[2])) - acc[1]) + 0.8::DOUBLE * acc[2]]) AS hb
      |  FROM (SELECT event_type, list(value ORDER BY ts, event_id) AS vals
      |        FROM events GROUP BY event_type) t) u
      |ORDER BY event_type""".stripMargin)

  // Holt-Winters additive: Holt plus a ROTATING m=4 seasonal vector —
  // the state keeps the current step's seasonal at slot 3 and rotates it
  // to the back after updating, so no position counter is needed.
  // DuckDB's list_reduce needs acc type == element type: values pad to
  // 6-lists (x[1] = value), the same trick as TS-HOLT's pairs.
  q("TS-HOLT-WINTERS",
    """SELECT event_type, n, round(element_at(hb, 1), 4) AS level,
      |  round(element_at(hb, 2), 4) AS trend,
      |  round(element_at(hb, 1) + element_at(hb, 2) + element_at(hb, 3), 4) AS forecast
      |FROM (
      |  SELECT event_type, size(vals) AS n,
      |    aggregate(slice(vals, 2, size(vals) - 1),
      |      array(element_at(vals, 1), 0.0D, 0.0D, 0.0D, 0.0D, 0.0D),
      |      (acc, x) -> array(
      |        0.3D * (x - element_at(acc, 3)) + 0.7D * (element_at(acc, 1) + element_at(acc, 2)),
      |        0.2D * ((0.3D * (x - element_at(acc, 3))
      |          + 0.7D * (element_at(acc, 1) + element_at(acc, 2))) - element_at(acc, 1))
      |          + 0.8D * element_at(acc, 2),
      |        element_at(acc, 4), element_at(acc, 5), element_at(acc, 6),
      |        0.3D * (x - (0.3D * (x - element_at(acc, 3))
      |          + 0.7D * (element_at(acc, 1) + element_at(acc, 2))))
      |          + 0.7D * element_at(acc, 3))) AS hb
      |  FROM (
      |    SELECT event_type,
      |      transform(array_sort(collect_list(struct(ts, event_id, value))),
      |                s -> s.value) AS vals
      |    FROM events GROUP BY event_type) t) u
      |ORDER BY event_type""".stripMargin,
    """SELECT event_type, CAST(len(vals) AS INT) AS n,
      |  round(hb[1], 4) AS level, round(hb[2], 4) AS trend,
      |  round(hb[1] + hb[2] + hb[3], 4) AS forecast
      |FROM (
      |  SELECT event_type, vals,
      |    list_reduce(list_prepend([vals[1], 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE],
      |                             list_transform(vals[2:], v -> [v, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE])),
      |      (acc, x) -> [0.3::DOUBLE * (x[1] - acc[3]) + 0.7::DOUBLE * (acc[1] + acc[2]),
      |                   0.2::DOUBLE * ((0.3::DOUBLE * (x[1] - acc[3]) + 0.7::DOUBLE * (acc[1] + acc[2])) - acc[1]) + 0.8::DOUBLE * acc[2],
      |                   acc[4], acc[5], acc[6],
      |                   0.3::DOUBLE * (x[1] - (0.3::DOUBLE * (x[1] - acc[3]) + 0.7::DOUBLE * (acc[1] + acc[2]))) + 0.7::DOUBLE * acc[3]]) AS hb
      |  FROM (SELECT event_type, list(value ORDER BY ts, event_id) AS vals
      |        FROM events GROUP BY event_type) t) u
      |ORDER BY event_type""".stripMargin)

  // Scale twin: the SQL IS the sequential rotating-state fold above; the
  // DSL runs operators.SegmentedAffine (6x6 matrix-affine chunk
  // decomposition) - same contract as TS-EMA/HOLT-SCALE.
  q("TS-HOLT-WINTERS-SCALE",
    """SELECT event_type, size(vals) AS n,
      |  round(hb[0], 4) AS level, round(hb[1], 4) AS trend,
      |  round(hb[0] + hb[1] + hb[2], 4) AS forecast
      |FROM (
      |  SELECT event_type, vals,
      |    aggregate(slice(vals, 2, size(vals) - 1),
      |              array(element_at(vals, 1), 0.0D, 0.0D, 0.0D, 0.0D, 0.0D),
      |              (acc, x) -> array(
      |                0.3D * (x - acc[2]) + 0.7D * (acc[0] + acc[1]),
      |                0.2D * ((0.3D * (x - acc[2]) + 0.7D * (acc[0] + acc[1])) - acc[0]) + 0.8D * acc[1],
      |                acc[3], acc[4], acc[5],
      |                0.3D * (x - (0.3D * (x - acc[2]) + 0.7D * (acc[0] + acc[1]))) + 0.7D * acc[2])) AS hb
      |  FROM (
      |    SELECT event_type,
      |      transform(array_sort(collect_list(struct(ts, event_id, value))),
      |                s -> s.value) AS vals
      |    FROM events GROUP BY event_type) t) u
      |ORDER BY event_type""".stripMargin,
    """SELECT event_type, CAST(len(vals) AS INT) AS n,
      |  round(hb[1], 4) AS level, round(hb[2], 4) AS trend,
      |  round(hb[1] + hb[2] + hb[3], 4) AS forecast
      |FROM (
      |  SELECT event_type, vals,
      |    list_reduce(list_prepend([vals[1], 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE],
      |                             list_transform(vals[2:], v -> [v, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE])),
      |      (acc, x) -> [0.3::DOUBLE * (x[1] - acc[3]) + 0.7::DOUBLE * (acc[1] + acc[2]),
      |                   0.2::DOUBLE * ((0.3::DOUBLE * (x[1] - acc[3]) + 0.7::DOUBLE * (acc[1] + acc[2])) - acc[1]) + 0.8::DOUBLE * acc[2],
      |                   acc[4], acc[5], acc[6],
      |                   0.3::DOUBLE * (x[1] - (0.3::DOUBLE * (x[1] - acc[3]) + 0.7::DOUBLE * (acc[1] + acc[2]))) + 0.7::DOUBLE * acc[3]]) AS hb
      |  FROM (SELECT event_type, list(value ORDER BY ts, event_id) AS vals
      |        FROM events GROUP BY event_type) t) u
      |ORDER BY event_type""".stripMargin)

  // Scale twin: the SQL IS the sequential pair fold above; the DSL runs
  // graft.operators.SegmentedHolt — the 2×2 matrix-affine generalization
  // of TS-EMA-SCALE's chunk decomposition (Holt's update is one affine
  // map of the (level, trend) state per input, and affine maps compose
  // associatively), so no whole-series array on any task.
  q("TS-HOLT-SCALE",
    """SELECT event_type, size(vals) AS n,
      |  round(hb[0], 4) AS level, round(hb[1], 4) AS trend
      |FROM (
      |  SELECT event_type, vals,
      |    aggregate(slice(vals, 2, size(vals) - 1),
      |              array(element_at(vals, 1), CAST(0.0 AS DOUBLE)),
      |              (acc, x) -> array(
      |                0.3D * x + 0.7D * (acc[0] + acc[1]),
      |                0.2D * ((0.3D * x + 0.7D * (acc[0] + acc[1])) - acc[0]) + 0.8D * acc[1])) AS hb
      |  FROM (
      |    SELECT event_type,
      |      transform(array_sort(collect_list(struct(ts, event_id, value))),
      |                s -> s.value) AS vals
      |    FROM events GROUP BY event_type) t) u
      |ORDER BY event_type""".stripMargin,
    """SELECT event_type, CAST(len(vals) AS INT) AS n,
      |  round(hb[1], 4) AS level, round(hb[2], 4) AS trend
      |FROM (
      |  SELECT event_type, vals,
      |    list_reduce(list_prepend([vals[1], 0.0::DOUBLE],
      |                             list_transform(vals[2:], v -> [v, 0.0::DOUBLE])),
      |      (acc, x) -> [0.3::DOUBLE * x[1] + 0.7::DOUBLE * (acc[1] + acc[2]),
      |                   0.2::DOUBLE * ((0.3::DOUBLE * x[1] + 0.7::DOUBLE * (acc[1] + acc[2])) - acc[1]) + 0.8::DOUBLE * acc[2]]) AS hb
      |  FROM (SELECT event_type, list(value ORDER BY ts, event_id) AS vals
      |        FROM events GROUP BY event_type) t) u
      |ORDER BY event_type""".stripMargin)

  // URL parsing: host/path/single query param from a constructed URL
  // column (testdata has no URL field; the construction mirrors how
  // PARSE-COMMAKEYS builds metric names from columns)
  q("FN-URL",
    """SELECT event_id,
      |  parse_url(concat('https://', lower(event_type), '.example.com/u/',
      |    CAST(user_id AS STRING), '/p?ev=', CAST(event_id AS STRING), '&x=1'), 'HOST') AS host,
      |  parse_url(concat('https://', lower(event_type), '.example.com/u/',
      |    CAST(user_id AS STRING), '/p?ev=', CAST(event_id AS STRING), '&x=1'), 'PATH') AS path,
      |  CAST(parse_url(concat('https://', lower(event_type), '.example.com/u/',
      |    CAST(user_id AS STRING), '/p?ev=', CAST(event_id AS STRING), '&x=1'), 'QUERY', 'ev') AS BIGINT) AS ev
      |FROM events ORDER BY event_id LIMIT 50""".stripMargin,
    """WITH u AS (SELECT event_id,
      |    concat('https://', lower(event_type), '.example.com/u/',
      |           CAST(user_id AS VARCHAR), '/p?ev=',
      |           CAST(event_id AS VARCHAR), '&x=1') AS url
      |  FROM events)
      |SELECT event_id, regexp_extract(url, '^https?://([^/]+)', 1) AS host,
      |  regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS path,
      |  CAST(regexp_extract(url, '[?&]ev=([^&]*)', 1) AS BIGINT) AS ev
      |FROM u ORDER BY event_id LIMIT 50""".stripMargin)

  // trailing-window z-score (the proxy's anomaly shape): each point scored
  // against the mean/stddev of its own series' previous 20 points — the
  // window partitions on the series key, so the plan is shuffle-once
  // per-series, never global
  q("WIN-ZSCORE",
    """WITH s AS (
      |  SELECT event_id, value,
      |    avg(value) OVER w AS mu,
      |    stddev_samp(value) OVER w AS sigma,
      |    count(*) OVER w AS nprev
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      |SELECT event_id, round((value - mu) / sigma, 3) AS z
      |FROM s WHERE nprev >= 5 AND sigma > 0.001
      |ORDER BY event_id LIMIT 100""".stripMargin,
    s"""WITH s AS (
      |  SELECT event_type, event_id, value,
      |    avg(value) OVER w AS mu,
      |    stddev_samp(value) OVER w AS sigma,
      |    count(*) OVER w AS nprev
      |  FROM $EV events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      |SELECT event_id, round((value - mu) / sigma, 3) AS z
      |FROM s WHERE nprev >= 5 AND sigma > 0.001
      |ORDER BY event_id LIMIT 100""".stripMargin)

  // context-window chunking: 50-token chunks on a 40-token stride (10
  // overlap), one row per (doc, chunk-start) — the standard training-data
  // prep before tokenization. Chunk text rides as an md5 so the contract
  // stays small; a narrow per-row explode, no shuffle.
  q("TEXT-CHUNK",
    """SELECT doc_id, st, least(50, size(toks) - st + 1) AS n_tok,
      |  md5(concat_ws(' ', slice(toks, st, 50))) AS chunk_md5
      |FROM (SELECT doc_id, toks, explode(sequence(1, size(toks), 40)) AS st
      |      FROM (SELECT doc_id, split(text, ' ') AS toks FROM documents) d) s
      |ORDER BY doc_id, st LIMIT 200""".stripMargin,
    """SELECT doc_id, st, least(50, len(t) - st + 1) AS n_tok,
      |  md5(array_to_string(t[st:st+49], ' ')) AS chunk_md5
      |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d
      |CROSS JOIN unnest(generate_series(1, len(t), 40)) AS s(st)
      |ORDER BY doc_id, st LIMIT 200""".stripMargin)

  // int8 symmetric quantization of the embedding column (the storage /
  // PQ-lite shape): scale = max|x| / 127, q_i = round(x_i/scale). Narrow
  // per-row codegen transform; the contract carries the scale and two
  // integer checksums of the quantized vector.
  q("EMB-QUANT",
    """WITH q AS (
      |  SELECT vec_id,
      |    array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m,
      |    transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127 /
      |      array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE))))) AS BIGINT)) AS qv
      |  FROM embeddings)
      |SELECT vec_id, round(m / 127, 6) AS scale,
      |  aggregate(qv, CAST(0 AS BIGINT), (a, x) -> a + x) AS qsum,
      |  aggregate(qv, CAST(0 AS BIGINT), (a, x) -> a + abs(x)) AS qabs
      |FROM q ORDER BY vec_id LIMIT 60""".stripMargin,
    """WITH q AS (
      |  SELECT vec_id,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127 /
      |      list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))) AS BIGINT)) AS qv
      |  FROM embeddings)
      |SELECT vec_id, round(m / 127, 6) AS scale,
      |  CAST(list_sum(qv) AS BIGINT) AS qsum,
      |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS qabs
      |FROM q ORDER BY vec_id LIMIT 60""".stripMargin)

  // character-entropy quality signal (gibberish detection): Shannon
  // entropy in nats over each document's character distribution. The
  // per-doc sum folds an ORDERED count list (same sequential double
  // arithmetic in both engines — the TS-EMA pattern); ln, not log2,
  // follows FN-MATH's proven cross-engine libm parity.
  q("TEXT-ENTROPY",
    """WITH cnt AS (SELECT doc_id, c, count(*) AS k FROM
      |  (SELECT doc_id, explode(split(text, '')) AS c FROM documents) ch
      |  GROUP BY doc_id, c),
      |v AS (SELECT doc_id, transform(array_sort(collect_list(struct(c, k))), s -> s.k) AS ks,
      |      sum(k) AS n FROM cnt GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
      |  round(aggregate(ks, CAST(0.0 AS DOUBLE),
      |        (acc, x) -> acc - (x / n) * ln(x / n)), 4) AS ent
      |FROM v ORDER BY doc_id LIMIT 60""".stripMargin,
    """WITH ch AS (
      |  SELECT doc_id, substr(text, CAST(i AS INT), 1) AS c
      |  FROM documents CROSS JOIN unnest(generate_series(1, length(text))) AS g(i)),
      |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
      |v AS (SELECT doc_id, list(k ORDER BY c) AS ks, sum(k) AS n FROM cnt GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
      |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(ks, x -> -(x / n) * ln(x / n))), (acc, t) -> acc + t), 4) AS ent
      |FROM v ORDER BY doc_id LIMIT 60""".stripMargin)

  // weighted aggregation (the metrics-rollup staple): quantity-weighted
  // average price per return flag, decimal-pinned for cross-engine parity
  q("AGG-WEIGHTED",
    """SELECT l_returnflag,
      |  round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4))) AS DOUBLE) /
      |        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS wavg_price,
      |  round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4))) AS DOUBLE), 2) AS wsum
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  // Gopher-style repetition signals (Rae et al. 2021 §A1.1): fraction of
  // tokens taken by the single most frequent token, and fraction of
  // duplicate word-2-grams. High values flag boilerplate/spam for
  // training-data curation. Both are per-doc narrow array work — at scale
  // the only shuffle is the explode→groupBy for the token mode.
  q("TEXT-REPETITION",
    """WITH toks AS (SELECT doc_id, split(text, ' ') AS t FROM documents WHERE doc_id < 60),
      |tf AS (SELECT doc_id, tok, count(*) AS c
      |       FROM (SELECT doc_id, explode(t) AS tok FROM toks) x GROUP BY doc_id, tok),
      |top AS (SELECT doc_id, max(c) AS topc, sum(c) AS n FROM tf GROUP BY doc_id),
      |big AS (SELECT doc_id, zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
      |          (a, b) -> concat_ws(' ', a, b)) AS bg
      |        FROM toks WHERE size(t) >= 2)
      |SELECT t.doc_id, round(CAST(topc AS DOUBLE) / n, 4) AS top_tok_frac,
      |  round(1.0 - CAST(size(array_distinct(bg)) AS DOUBLE) / size(bg), 4) AS dup_bigram_frac
      |FROM top t JOIN big b ON t.doc_id = b.doc_id ORDER BY t.doc_id""".stripMargin,
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 60),
      |tf AS (SELECT doc_id, tok, count(*) AS c
      |       FROM (SELECT doc_id, unnest(t) AS tok FROM toks) x GROUP BY doc_id, tok),
      |top AS (SELECT doc_id, max(c) AS topc, sum(c) AS n FROM tf GROUP BY doc_id),
      |big AS (SELECT doc_id, list_transform(generate_series(1, len(t) - 1),
      |          i -> concat(t[i], ' ', t[i + 1])) AS bg
      |        FROM toks WHERE len(t) >= 2)
      |SELECT t.doc_id, round(CAST(topc AS DOUBLE) / n, 4) AS top_tok_frac,
      |  round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4) AS dup_bigram_frac
      |FROM top t JOIN big b ON t.doc_id = b.doc_id ORDER BY t.doc_id""".stripMargin)

  // tf-idf top terms per document: term frequency × ln(N/df). The rank
  // window orders by the ROUNDED score (then token) so the cross-engine
  // order is decided on the same 4-dp values the hash compares; ln parity
  // follows FN-MATH. df and tf share one explode — at scale this is two
  // aggregations over the token stream plus a broadcast-sized df join.
  q("TEXT-TFIDF",
    """WITH toks AS (SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS f FROM toks GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS d FROM toks GROUP BY tok),
      |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
      |s AS (SELECT tf.doc_id, tf.tok, round(f * ln(CAST(nd AS DOUBLE) / d), 4) AS tfidf,
      |        row_number() OVER (PARTITION BY tf.doc_id
      |          ORDER BY round(f * ln(CAST(nd AS DOUBLE) / d), 4) DESC, tf.tok) AS rn
      |      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
      |SELECT doc_id, tok, tfidf, rn FROM s WHERE rn <= 3 AND doc_id < 20
      |ORDER BY doc_id, rn""".stripMargin,
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS f FROM toks GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS d FROM toks GROUP BY tok),
      |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
      |s AS (SELECT tf.doc_id, tf.tok, round(f * ln(CAST(nd AS DOUBLE) / d), 4) AS tfidf,
      |        row_number() OVER (PARTITION BY tf.doc_id
      |          ORDER BY round(f * ln(CAST(nd AS DOUBLE) / d), 4) DESC, tf.tok) AS rn
      |      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
      |SELECT doc_id, tok, tfidf, CAST(rn AS INT) AS rn FROM s WHERE rn <= 3 AND doc_id < 20
      |ORDER BY doc_id, rn""".stripMargin)

  // deterministic weighted sample — sequential Poisson sampling (Ohlsson
  // 1998): priority ξ = u/w with u a portable-hash uniform and w = n_chars;
  // the k smallest ξ form a without-replacement size-biased sample. All
  // arithmetic is exact-int → IEEE division, so both engines order on
  // bit-identical doubles (the SAMPLE-HASH determinism pattern).
  q("SAMPLE-WEIGHTED",
    """SELECT doc_id, n_chars, round(xi_raw * 1000000, 4) AS xi FROM (
      |  SELECT doc_id, n_chars,
      |    CAST(graft_poly_hash(CAST(doc_id AS STRING)) % 1000003 AS DOUBLE) / 1000003 / n_chars AS xi_raw
      |  FROM documents ORDER BY xi_raw, doc_id LIMIT 10) h""".stripMargin,
    """WITH h AS (SELECT doc_id, n_chars,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, CAST(length(CAST(doc_id AS VARCHAR)) AS INT)),
      |      i -> CAST(ascii(substr(CAST(doc_id AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) % 1000003 AS hm FROM documents)
      |SELECT doc_id, n_chars,
      |  round(CAST(hm AS DOUBLE) / 1000003 / n_chars * 1000000, 4) AS xi
      |FROM h ORDER BY CAST(hm AS DOUBLE) / 1000003 / n_chars, doc_id LIMIT 10""".stripMargin)

  // last-touch attribution: each purchase attributed to the most recent
  // at-or-before click of the same user — the payload-carrying as-of
  // join. The contract SQL is the quadratic-per-key theta-join +
  // max(struct) collapse; the DSL serves AsOfJoin.lastBeforeWith, the
  // single sort-based window pass (ties resolve to the largest click_id
  // in both formulations).
  q("EVENT-ATTRIBUTION",
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'),
      |j AS (SELECT p.event_id, max(struct(c.ts, c.click_id)).click_id AS click_id
      |      FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
      |      GROUP BY p.event_id)
      |SELECT event_id, click_id FROM j ORDER BY event_id LIMIT 80""".stripMargin,
    s"""WITH p AS (SELECT event_id, user_id, ts FROM $EV e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, event_id AS click_id FROM $EV e2 WHERE event_type = 'click')
      |SELECT p.event_id,
      |  (SELECT c.click_id FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts
      |   ORDER BY c.ts DESC, c.click_id DESC LIMIT 1) AS click_id
      |FROM p ORDER BY p.event_id LIMIT 80""".stripMargin)

  // exact top-k rows per group via the bounded-heap aggregate
  // (graft_topk_by): map-side partials retain k rows per group per
  // partition, so the shuffle ships k·groups·partitions rows instead of
  // the full window sort the oracle twin runs. Exact under any merge
  // order → oracle-hashable, unlike the sketch aggregates.
  q("AGG-GROUP-TOPK",
    """WITH t AS (SELECT l_returnflag,
      |    graft_topk_by(l_extendedprice,
      |      concat(CAST(l_orderkey AS STRING), '#', CAST(l_linenumber AS STRING)), 3) AS arr
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(pos + 1 AS INT) AS rn, col.ord AS price, col.item AS item
      |FROM (SELECT l_returnflag, posexplode(arr) FROM t) p
      |ORDER BY l_returnflag, rn""".stripMargin,
    """SELECT l_returnflag, CAST(rn AS INT) AS rn, price, item FROM (
      |  SELECT l_returnflag, l_extendedprice AS price,
      |    concat(CAST(l_orderkey AS VARCHAR), '#', CAST(l_linenumber AS VARCHAR)) AS item,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice DESC,
      |        concat(CAST(l_orderkey AS VARCHAR), '#', CAST(l_linenumber AS VARCHAR))) AS rn
      |  FROM lineitem) x WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin)

  // event-path mining (first-order Markov transitions): top next-event
  // transitions with per-source conditional probability. One window pass
  // per user then a count aggregation — the classic clickstream shape.
  q("EVENT-PATH",
    """WITH p AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      |  FROM events),
      |c AS (SELECT event_type, nxt, count(*) AS n
      |  FROM p WHERE nxt IS NOT NULL GROUP BY event_type, nxt)
      |SELECT event_type, nxt, n,
      |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type), 4) AS p_next
      |FROM c ORDER BY n DESC, event_type, nxt LIMIT 15""".stripMargin,
    s"""WITH p AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      |  FROM $EV e)
      |SELECT event_type, nxt, count(*) AS n,
      |  round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY event_type), 4) AS p_next
      |FROM p WHERE nxt IS NOT NULL GROUP BY event_type, nxt
      |ORDER BY n DESC, event_type, nxt LIMIT 15""".stripMargin)

  // fuzzy near-dup pairs by edit distance with blocking: block on the
  // name's noun token (a key-equality join — never all-pairs), band on
  // length inside the join condition (|len diff| ≤ d is necessary for
  // lev ≤ d), threshold classic Levenshtein in the residual. The fuzzy
  // complement to the shingle/minhash dedup family for short strings.
  q("LLM-FUZZY-PAIRS",
    """WITH p AS (SELECT p_partkey AS k, p_name AS nm,
      |  element_at(split(p_name, ' '), -1) AS noun FROM part WHERE p_partkey <= 5000),
      |j AS (SELECT a.noun, levenshtein(a.nm, b.nm) AS d
      |  FROM p a JOIN p b ON a.noun = b.noun AND a.k < b.k
      |    AND abs(length(a.nm) - length(b.nm)) <= 2)
      |SELECT noun, count(*) AS n_pairs, CAST(min(d) AS BIGINT) AS min_d
      |FROM j WHERE d <= 2
      |GROUP BY noun ORDER BY noun""".stripMargin,
    """WITH p AS (SELECT p_partkey AS k, p_name AS nm,
      |  string_split(p_name, ' ')[-1] AS noun FROM part WHERE p_partkey <= 5000)
      |SELECT a.noun, count(*) AS n_pairs,
      |  CAST(min(CAST(levenshtein(a.nm, b.nm) AS BIGINT)) AS BIGINT) AS min_d
      |FROM p a JOIN p b ON a.noun = b.noun AND a.k < b.k
      |  AND abs(length(a.nm) - length(b.nm)) <= 2
      |WHERE levenshtein(a.nm, b.nm) <= 2
      |GROUP BY a.noun ORDER BY a.noun""".stripMargin)

  // training-sequence packing ("concat and chunk"): per source, documents
  // concatenate in doc_id order and split into fixed 128-token chunks;
  // output is each doc's (chunk, token-range) assignment, straddles
  // included. The cumulative sum is a PARTITIONED window (one source =
  // one packing stream), so the shape scales like the WIN-*-SCALE twins.
  q("LLM-PACK",
    """WITH d AS (SELECT source, doc_id, size(split(text, ' ')) AS toks
      |  FROM documents WHERE doc_id < 200),
      |c AS (SELECT source, doc_id, toks,
      |  sum(toks) OVER (PARTITION BY source ORDER BY doc_id) AS send FROM d),
      |s AS (SELECT source, doc_id, toks, send, send - toks AS sstart,
      |  CAST(floor((send - toks) / 128) AS INT) AS c0,
      |  CAST(floor((send - 1) / 128) AS INT) AS c1 FROM c)
      |SELECT source, CAST(ch AS INT) AS chunk_id, doc_id,
      |  CAST(greatest(sstart, ch * 128) - sstart AS INT) AS tok_from,
      |  CAST(least(send, (ch + 1) * 128) - sstart AS INT) AS tok_to
      |FROM s LATERAL VIEW explode(sequence(c0, c1)) e AS ch
      |ORDER BY source, chunk_id, doc_id""".stripMargin,
    """WITH d AS (SELECT source, doc_id, len(string_split(text, ' ')) AS toks
      |  FROM documents WHERE doc_id < 200),
      |c AS (SELECT source, doc_id, toks,
      |  sum(toks) OVER (PARTITION BY source ORDER BY doc_id) AS send FROM d),
      |s AS (SELECT source, doc_id, toks, send, send - toks AS sstart,
      |  CAST(floor((send - toks) / 128) AS INT) AS c0,
      |  CAST(floor((send - 1) / 128) AS INT) AS c1 FROM c)
      |SELECT source, CAST(g.ch AS INT) AS chunk_id, doc_id,
      |  CAST(greatest(sstart, g.ch * 128) - sstart AS INT) AS tok_from,
      |  CAST(least(send, (g.ch + 1) * 128) - sstart AS INT) AS tok_to
      |FROM s CROSS JOIN unnest(generate_series(c0, c1)) AS g(ch)
      |ORDER BY source, chunk_id, doc_id""".stripMargin)

  // domain-weighted mixture sampling (curation): fixed per-source target
  // counts taken in portable-hash order — a deterministic "mix 20/10/5/2
  // docs from these domains" curation step, one partitioned window pass
  q("SAMPLE-MIX",
    """WITH h AS (SELECT source, doc_id,
      |  graft_poly_hash(CAST(doc_id AS STRING)) AS hh FROM documents),
      |r AS (SELECT source, doc_id,
      |  row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn FROM h)
      |SELECT source, doc_id, rn FROM r
      |WHERE rn <= CASE source WHEN 'src0' THEN 20 WHEN 'src1' THEN 10
      |  WHEN 'src2' THEN 5 ELSE 2 END
      |ORDER BY source, rn""".stripMargin,
    """WITH h AS (SELECT source, doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, CAST(length(CAST(doc_id AS VARCHAR)) AS INT)),
      |      i -> CAST(ascii(substr(CAST(doc_id AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS hh FROM documents),
      |r AS (SELECT source, doc_id,
      |  row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn FROM h)
      |SELECT source, doc_id, CAST(rn AS INT) AS rn FROM r
      |WHERE rn <= CASE source WHEN 'src0' THEN 20 WHEN 'src1' THEN 10
      |  WHEN 'src2' THEN 5 ELSE 2 END
      |ORDER BY source, rn""".stripMargin)

  // unigram-LM perplexity scoring (the CCNet-style quality signal): train
  // the LM on the corpus itself (token frequencies), score each doc by
  // average negative log-likelihood. The per-doc sum folds an ORDERED
  // term list (TEXT-ENTROPY's determinism recipe); ln parity per FN-MATH.
  // At scale: two aggregations over one token stream + a broadcast-sized
  // vocabulary join — no shuffle grows with doc length.
  q("TEXT-PERPLEXITY",
    """WITH toks AS (SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS f FROM toks GROUP BY doc_id, tok),
      |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      |n AS (SELECT count(*) AS nt FROM toks),
      |terms AS (SELECT tf.doc_id, tf.tok, tf.f, -ln(CAST(c AS DOUBLE) / nt) * f AS nll
      |          FROM tf JOIN vocab ON tf.tok = vocab.tok CROSS JOIN n),
      |v AS (SELECT doc_id, transform(array_sort(collect_list(struct(tok, nll))),
      |        s -> s.nll) AS ks, sum(f) AS ntok FROM terms GROUP BY doc_id)
      |SELECT doc_id, round(aggregate(ks, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / ntok, 4) AS avg_nll
      |FROM v ORDER BY doc_id LIMIT 60""".stripMargin,
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS f FROM toks GROUP BY doc_id, tok),
      |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      |n AS (SELECT count(*) AS nt FROM toks),
      |terms AS (SELECT tf.doc_id, tf.tok, tf.f, -ln(CAST(c AS DOUBLE) / nt) * f AS nll
      |          FROM tf JOIN vocab ON tf.tok = vocab.tok CROSS JOIN n),
      |v AS (SELECT doc_id, list(nll ORDER BY tok) AS ks, sum(f) AS ntok
      |      FROM terms GROUP BY doc_id)
      |SELECT doc_id, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ks),
      |  (acc, t) -> acc + t) / ntok, 4) AS avg_nll
      |FROM v ORDER BY doc_id LIMIT 60""".stripMargin)

  // ------------------------------------------------------- round 8b: metrics
  // M4 pixel-bucket downsampling (Jugel et al., VLDB 2014): per (series,
  // bucket) keep first/min/max/last WITH their timestamps — the standard
  // error-free line-rendering reduction for dashboards. One partitioned
  // window stack + one group-by; map-side partial on the final aggregate,
  // no cross-series traffic. (TS-RESAMPLE is OHLC by value only; M4's
  // contract is returning the extrema's coordinates.)
  q("TS-M4",
    """WITH b AS (SELECT user_id, CAST(floor(CAST(ts AS DOUBLE)/21600)*21600 AS BIGINT) AS bucket,
      |    value, CAST(ts AS BIGINT) AS et, event_id FROM events WHERE user_id < 8),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY et, event_id) AS rf,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY et DESC, event_id DESC) AS rl,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY value, et, event_id) AS rmn,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY value DESC, et DESC, event_id DESC) AS rmx
      |  FROM b)
      |SELECT user_id, bucket,
      |  max(CASE WHEN rf = 1 THEN et END) AS t_first, round(max(CASE WHEN rf = 1 THEN value END), 2) AS v_first,
      |  max(CASE WHEN rmn = 1 THEN et END) AS t_min, round(max(CASE WHEN rmn = 1 THEN value END), 2) AS v_min,
      |  max(CASE WHEN rmx = 1 THEN et END) AS t_max, round(max(CASE WHEN rmx = 1 THEN value END), 2) AS v_max,
      |  max(CASE WHEN rl = 1 THEN et END) AS t_last, round(max(CASE WHEN rl = 1 THEN value END), 2) AS v_last
      |FROM r GROUP BY user_id, bucket ORDER BY user_id, bucket""".stripMargin,
    s"""WITH b AS (SELECT user_id, CAST(floor(epoch(ts)/21600)*21600 AS BIGINT) AS bucket,
      |    value, CAST(floor(epoch(ts)) AS BIGINT) AS et, event_id FROM $EV e WHERE user_id < 8),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY et, event_id) AS rf,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY et DESC, event_id DESC) AS rl,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY value, et, event_id) AS rmn,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY value DESC, et DESC, event_id DESC) AS rmx
      |  FROM b)
      |SELECT user_id, bucket,
      |  max(CASE WHEN rf = 1 THEN et END) AS t_first, round(max(CASE WHEN rf = 1 THEN value END), 2) AS v_first,
      |  max(CASE WHEN rmn = 1 THEN et END) AS t_min, round(max(CASE WHEN rmn = 1 THEN value END), 2) AS v_min,
      |  max(CASE WHEN rmx = 1 THEN et END) AS t_max, round(max(CASE WHEN rmx = 1 THEN value END), 2) AS v_max,
      |  max(CASE WHEN rl = 1 THEN et END) AS t_last, round(max(CASE WHEN rl = 1 THEN value END), 2) AS v_last
      |FROM r GROUP BY user_id, bucket ORDER BY user_id, bucket""".stripMargin)

  // per-series lag-1 autocorrelation: one partitioned lag window + one
  // aggregate. corr() is scale-invariant (sample-vs-population factors
  // cancel), so the two engines agree to rounding. `+ 0.0` folds -0.0.
  q("TS-AUTOCORR",
    """WITH x AS (SELECT user_id, value,
      |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
      |  FROM events)
      |SELECT user_id, round(corr(value, pv), 4) + 0.0 AS ac1, count(*) AS n
      |FROM x WHERE pv IS NOT NULL GROUP BY user_id ORDER BY user_id LIMIT 60""".stripMargin,
    s"""WITH x AS (SELECT user_id, value,
      |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
      |  FROM $EV e)
      |SELECT user_id, round(corr(value, pv), 4) + 0.0 AS ac1, count(*) AS n
      |FROM x WHERE pv IS NOT NULL GROUP BY user_id ORDER BY user_id LIMIT 60""".stripMargin)

  // exact moving median over a 10-row frame (robust smoother). Spark's
  // percentile(0.5) and DuckDB's quantile_cont(0.5) both linear-interpolate
  // even-count frames. Exact-in-frame is the contract here; the engine's
  // fixed-memory alternative for wide frames is the KLL window in
  // AGG-APPROX-QUANTILES. Frames are per-series — partitioned windows only.
  q("WIN-ROLLING-MEDIAN",
    """SELECT user_id, event_id,
      |  round(percentile(value, 0.5) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4) AS med10
      |FROM events WHERE user_id < 5 ORDER BY user_id, event_id LIMIT 200""".stripMargin,
    s"""SELECT user_id, event_id,
      |  round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4) AS med10
      |FROM $EV e WHERE user_id < 5 ORDER BY user_id, event_id LIMIT 200""".stripMargin)

  // distinct event types within a trailing 20-row frame. Spark cannot put
  // DISTINCT aggregates in a window, so the declarative shape is
  // size(collect_set(..)) — frame-bounded state (≤20 entries), partitioned
  // by series. DuckDB spells the same thing list(..)→list_distinct.
  q("WIN-ROLLING-DISTINCT",
    """SELECT user_id, event_id,
      |  size(collect_set(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) AS ndist
      |FROM events WHERE user_id < 5 ORDER BY user_id, event_id LIMIT 200""".stripMargin,
    s"""SELECT user_id, event_id,
      |  len(list_distinct(list(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))) AS ndist
      |FROM $EV e WHERE user_id < 5 ORDER BY user_id, event_id LIMIT 200""".stripMargin)

  // DuckDB twin of EVENT-CONCURRENCY, shared with the distributed
  // EVENT-CONCURRENCY-SCALE in Extensions (same output contract). peak is
  // CAST to BIGINT: DuckDB widens sum(INTEGER) to HUGEINT, which the
  // driver's pandas bridge float64-ifies (check_verify.py's hugeint trap).
  val concurrencyDuckSql: String =
    s"""WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, 1 AS d FROM $EV e
      |  UNION ALL
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) + 300 AS t, -1 AS d FROM $EV e2),
      |sw AS (SELECT t, sum(d) OVER (ORDER BY t, d) AS conc FROM pts)
      |SELECT CAST(floor(t / 21600) * 21600 AS BIGINT) AS bucket,
      |  CAST(max(conc) AS BIGINT) AS peak
      |FROM sw GROUP BY 1 ORDER BY bucket""".stripMargin

  // sweep-line peak concurrency: each event opens a 300 s presence interval;
  // +1/-1 deltas, running sum ordered by time (ends sort before starts at a
  // shared instant: ORDER BY t, d), per-bucket max. Bucket maxima are
  // order-invariant within equal (t,d) runs — the max of a prefix-sum run
  // is its endpoint value. The unpartitioned running sum is the contract
  // shape; the distributed twin (EVENT-CONCURRENCY-SCALE, Extensions) does
  // the same via per-bucket windows + a broadcast of per-bucket offsets.
  q("EVENT-CONCURRENCY",
    """WITH pts AS (
      |  SELECT CAST(ts AS BIGINT) AS t, 1 AS d FROM events
      |  UNION ALL
      |  SELECT CAST(ts AS BIGINT) + 300 AS t, -1 AS d FROM events),
      |sw AS (SELECT t, sum(d) OVER (ORDER BY t, d) AS conc FROM pts)
      |SELECT CAST(floor(t / 21600) * 21600 AS BIGINT) AS bucket, max(conc) AS peak
      |FROM sw GROUP BY 1 ORDER BY bucket""".stripMargin,
    concurrencyDuckSql)

  // one-sided CUSUM change score via the prefix-min closed form:
  // S_t = max(0, S_{t-1} + (x_t - mu - k)) == C_t - min(0, min_{i<=t} C_i)
  // — the sequential recurrence becomes two running windows on ONE
  // per-series sort (no iterative fold, no whole-series collect)
  q("TS-CUSUM",
    """WITH x AS (
      |  SELECT user_id, event_id, CAST(ts AS BIGINT) AS et, value,
      |    avg(value) OVER (PARTITION BY user_id) AS mu
      |  FROM events WHERE user_id < 40),
      |c AS (
      |  SELECT user_id, event_id, et,
      |    sum(value - mu - 5.0) OVER (PARTITION BY user_id ORDER BY et, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
      |  FROM x)
      |SELECT user_id, event_id,
      |  round(cm - least(CAST(0.0 AS DOUBLE), min(cm) OVER (PARTITION BY user_id ORDER BY et, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) + 0.0 AS cusum,
      |  (cm - least(CAST(0.0 AS DOUBLE), min(cm) OVER (PARTITION BY user_id ORDER BY et, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) > 500.0 AS alarm
      |FROM c ORDER BY user_id, event_id LIMIT 400""".stripMargin,
    s"""WITH x AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS et, value,
      |    avg(value) OVER (PARTITION BY user_id) AS mu
      |  FROM $EV e WHERE user_id < 40),
      |c AS (
      |  SELECT user_id, event_id, et,
      |    sum(value - mu - 5.0) OVER (PARTITION BY user_id ORDER BY et, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
      |  FROM x)
      |SELECT user_id, event_id,
      |  round(cm - least(CAST(0.0 AS DOUBLE), min(cm) OVER (PARTITION BY user_id ORDER BY et, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) + 0.0 AS cusum,
      |  (cm - least(CAST(0.0 AS DOUBLE), min(cm) OVER (PARTITION BY user_id ORDER BY et, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) > 500.0 AS alarm
      |FROM c ORDER BY user_id, event_id LIMIT 400""".stripMargin)

  // LTTB downsampling, parallel variant: triangle areas against the
  // NEIGHBOR BUCKETS' means (the sequential previous-selected-point
  // dependency removed), first/last buckets keep the endpoints. Anchors
  // rounded to 6 dp so both engines rank identical areas. All frames are
  // per-series; the bucket stats are one aggregate + a bucket-level window.
  q("TS-LTTB",
    """WITH pts AS (SELECT user_id, CAST(ts AS BIGINT) AS et, event_id, value
      |  FROM events WHERE user_id < 20),
      |s AS (SELECT user_id, min(et) AS mn, max(et) AS mx FROM pts GROUP BY user_id),
      |b AS (SELECT user_id, et, event_id, value,
      |        least(CAST(floor((et - mn) * 12.0D / (mx - mn + 1)) AS INT), 11) AS bk
      |      FROM pts JOIN s USING (user_id)),
      |m AS (SELECT user_id, bk, round(avg(et), 6) AS bx, round(avg(value), 6) AS by
      |      FROM b GROUP BY user_id, bk),
      |n AS (SELECT user_id, bk,
      |        lag(bx)  OVER (PARTITION BY user_id ORDER BY bk) AS ax,
      |        lag(by)  OVER (PARTITION BY user_id ORDER BY bk) AS ay,
      |        lead(bx) OVER (PARTITION BY user_id ORDER BY bk) AS cx,
      |        lead(by) OVER (PARTITION BY user_id ORDER BY bk) AS cy
      |      FROM m),
      |a AS (SELECT *,
      |        CASE WHEN ax IS NULL THEN CAST(et AS DOUBLE)
      |             WHEN cx IS NULL THEN -CAST(et AS DOUBLE)
      |             ELSE -abs((ax - cx) * (value - ay) - (ax - et) * (cy - ay)) END AS sel
      |      FROM b JOIN n USING (user_id, bk)),
      |r AS (SELECT *,
      |        row_number() OVER (PARTITION BY user_id, bk ORDER BY sel, et, event_id) AS rn
      |      FROM a)
      |SELECT user_id, bk, et, round(value, 2) AS v
      |FROM r WHERE rn = 1 ORDER BY user_id, bk""".stripMargin,
    s"""WITH pts AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS et, event_id, value
      |  FROM $EV e WHERE user_id < 20),
      |s AS (SELECT user_id, min(et) AS mn, max(et) AS mx FROM pts GROUP BY user_id),
      |b AS (SELECT p.user_id, p.et, p.event_id, p.value,
      |        least(CAST(floor((p.et - s.mn) * 12.0 / (s.mx - s.mn + 1)) AS INT), 11) AS bk
      |      FROM pts p JOIN s ON p.user_id = s.user_id),
      |m AS (SELECT user_id, bk, round(avg(et), 6) AS bx, round(avg(value), 6) AS by
      |      FROM b GROUP BY user_id, bk),
      |n AS (SELECT user_id, bk,
      |        lag(bx)  OVER (PARTITION BY user_id ORDER BY bk) AS ax,
      |        lag(by)  OVER (PARTITION BY user_id ORDER BY bk) AS ay,
      |        lead(bx) OVER (PARTITION BY user_id ORDER BY bk) AS cx,
      |        lead(by) OVER (PARTITION BY user_id ORDER BY bk) AS cy
      |      FROM m),
      |a AS (SELECT b.user_id, b.bk, b.et, b.event_id, b.value,
      |        CASE WHEN n.ax IS NULL THEN CAST(b.et AS DOUBLE)
      |             WHEN n.cx IS NULL THEN -CAST(b.et AS DOUBLE)
      |             ELSE -abs((n.ax - n.cx) * (b.value - n.ay) - (n.ax - b.et) * (n.cy - n.ay)) END AS sel
      |      FROM b JOIN n ON b.user_id = n.user_id AND b.bk = n.bk),
      |r AS (SELECT user_id, bk, et, value,
      |        row_number() OVER (PARTITION BY user_id, bk ORDER BY sel, et, event_id) AS rn
      |      FROM a)
      |SELECT user_id, bk, et, round(value, 2) AS v
      |FROM r WHERE rn = 1 ORDER BY user_id, bk""".stripMargin)

  // 2-D Pareto frontier WITHOUT the quadratic dominance self-join: distinct
  // pairs → per-price max → one sorted running-max window. The DSL twin is
  // operators.Skyline.pareto2d (partition-local prune + frontier-sized
  // global pass); this text is the declarative same-shape contract.
  q("AGG-SKYLINE",
    """WITH d AS (SELECT DISTINCT p_retailprice AS price, p_size AS size FROM part),
      |g AS (SELECT price, max(size) AS gmax FROM d GROUP BY price),
      |r AS (SELECT price, gmax,
      |        max(gmax) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxlt
      |      FROM g)
      |SELECT round(price, 2) AS price, gmax AS size FROM r
      |WHERE maxlt IS NULL OR maxlt < gmax
      |ORDER BY price""".stripMargin)

  // snapshot diff (CDC): two keyed snapshots derived from orders with
  // planted inserts/deletes/updates → one full outer join on the key,
  // null-safe column compare, typed change rows + changed-column list.
  // DSL twin: operators.Cdc.snapshotDiff (generic over key/attrs).
  q("CDC-DIFF",
    """WITH a AS (SELECT o_orderkey AS k, o_orderstatus AS st, round(o_totalprice, 2) AS tp
      |           FROM orders WHERE o_orderkey % 10 <> 0),
      |b AS (SELECT o_orderkey AS k,
      |        CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS st,
      |        round(o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 10.0 ELSE 0.0 END, 2) AS tp
      |      FROM orders WHERE o_orderkey % 10 <> 1)
      |SELECT coalesce(a.k, b.k) AS k,
      |  CASE WHEN a.k IS NULL THEN 'insert' WHEN b.k IS NULL THEN 'delete' ELSE 'update' END AS change_type,
      |  concat_ws(',',
      |    CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL AND a.st IS DISTINCT FROM b.st THEN 'st' END,
      |    CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL AND a.tp IS DISTINCT FROM b.tp THEN 'tp' END) AS changed_cols
      |FROM a FULL OUTER JOIN b ON a.k = b.k
      |WHERE a.k IS NULL OR b.k IS NULL
      |   OR a.st IS DISTINCT FROM b.st OR a.tp IS DISTINCT FROM b.tp
      |ORDER BY k""".stripMargin)

  // type-2 dimension history from a change log: last-write-wins per tick,
  // collapse no-op changes, validity intervals + current flag — three
  // windows on ONE (key, ord) sort. DSL twin: operators.Cdc.scd2.
  q("DIM-SCD2",
    """WITH log AS (SELECT user_id, CAST(ts AS BIGINT) AS et, event_id,
      |    CAST(floor(value / 100) AS INT) AS state
      |  FROM events WHERE user_id < 30),
      |lw AS (SELECT user_id, et, state FROM (
      |    SELECT user_id, et, state,
      |      row_number() OVER (PARTITION BY user_id, et ORDER BY event_id DESC) AS rn
      |    FROM log) t WHERE rn = 1),
      |d AS (SELECT user_id, et, state,
      |        lag(state) OVER (PARTITION BY user_id ORDER BY et) AS ps
      |      FROM lw),
      |chg AS (SELECT user_id, et, state FROM d WHERE ps IS NULL OR ps <> state)
      |SELECT user_id, et AS valid_from,
      |  lead(et) OVER (PARTITION BY user_id ORDER BY et) AS valid_to,
      |  state,
      |  (lead(et) OVER (PARTITION BY user_id ORDER BY et)) IS NULL AS is_current
      |FROM chg ORDER BY user_id, valid_from""".stripMargin,
    s"""WITH log AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS et, event_id,
      |    CAST(floor(value / 100) AS INT) AS state
      |  FROM $EV e WHERE user_id < 30),
      |lw AS (SELECT user_id, et, state FROM (
      |    SELECT user_id, et, state,
      |      row_number() OVER (PARTITION BY user_id, et ORDER BY event_id DESC) AS rn
      |    FROM log) t WHERE rn = 1),
      |d AS (SELECT user_id, et, state,
      |        lag(state) OVER (PARTITION BY user_id ORDER BY et) AS ps
      |      FROM lw),
      |chg AS (SELECT user_id, et, state FROM d WHERE ps IS NULL OR ps <> state)
      |SELECT user_id, et AS valid_from,
      |  lead(et) OVER (PARTITION BY user_id ORDER BY et) AS valid_to,
      |  state,
      |  (lead(et) OVER (PARTITION BY user_id ORDER BY et)) IS NULL AS is_current
      |FROM chg ORDER BY user_id, valid_from""".stripMargin)

  // exponential (base-2) histogram over integer cents — the OTel/HDR metric
  // bucket shape — with cumulative fraction and bucket upper bound. The
  // ln-ratio is rounded to 9 dp before floor so exact powers of two land in
  // the same bucket on every libm (true ratios sit ≥ ~1/n from the next
  // integer, far outside the rounding band).
  q("AGG-EXPHIST",
    """WITH b AS (SELECT event_type,
      |    CAST(floor(round(ln(CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE)) / ln(2.0D), 9)) AS INT) AS bucket
      |  FROM events WHERE value > 0),
      |h AS (SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY event_type, bucket)
      |SELECT event_type, bucket, cnt,
      |  round(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) * 1.0D
      |    / sum(cnt) OVER (PARTITION BY event_type), 4) AS cum_frac,
      |  round(power(2.0D, bucket + 1) / 100.0D, 4) AS ub
      |FROM h ORDER BY event_type, bucket""".stripMargin,
    s"""WITH b AS (SELECT event_type,
      |    CAST(floor(round(ln(CAST(round(value * 100) AS BIGINT) * 1.0) / ln(2.0), 9)) AS INT) AS bucket
      |  FROM $EV e WHERE value > 0),
      |h AS (SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY event_type, bucket),
      |c AS (SELECT event_type, bucket, cnt,
      |        sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
      |        sum(cnt) OVER (PARTITION BY event_type) AS tot
      |      FROM h)
      |SELECT event_type, bucket, cnt,
      |  round(cum * 1.0 / tot, 4) AS cum_frac,
      |  round(power(2.0, bucket + 1) / 100.0, 4) AS ub
      |FROM c ORDER BY event_type, bucket""".stripMargin)

  // hour→day re-aggregation equals day-from-raw: the mergeable-rollup
  // contract (sum/count/min/max) behind multi-resolution retention — the
  // cascade is what makes 100 TB of raw metrics storable as rollups.
  q("TS-ROLLUP-CASCADE",
    """WITH pts AS (SELECT event_type, CAST(ts AS BIGINT) AS et, value FROM events),
      |h AS (SELECT event_type, et - (et % 3600) AS hb,
      |        sum(value) AS sv, count(*) AS c, min(value) AS mn, max(value) AS mx
      |      FROM pts GROUP BY event_type, et - (et % 3600)),
      |dh AS (SELECT event_type, hb - (hb % 86400) AS db,
      |         sum(sv) AS sv, CAST(sum(c) AS BIGINT) AS c, min(mn) AS mn, max(mx) AS mx
      |       FROM h GROUP BY event_type, hb - (hb % 86400)),
      |dr AS (SELECT event_type AS r_et, et - (et % 86400) AS r_db,
      |         sum(value) AS r_sv, count(*) AS r_c, min(value) AS r_mn, max(value) AS r_mx
      |       FROM pts GROUP BY event_type, et - (et % 86400))
      |SELECT event_type, db, round(sv, 4) AS day_sum, c AS day_cnt,
      |  round(mn, 4) AS day_min, round(mx, 4) AS day_max,
      |  (c = r_c AND abs(sv - r_sv) < 1e-6 AND mn = r_mn AND mx = r_mx) AS rollup_equal
      |FROM dh JOIN dr ON event_type = r_et AND db = r_db
      |ORDER BY event_type, db""".stripMargin,
    s"""WITH pts AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS et, value FROM $EV e),
      |h AS (SELECT event_type, (et - (et % 3600)) AS hb,
      |        sum(value) AS sv, count(*) AS c, min(value) AS mn, max(value) AS mx
      |      FROM pts GROUP BY event_type, (et - (et % 3600))),
      |dh AS (SELECT event_type, (hb - (hb % 86400)) AS db,
      |         sum(sv) AS sv, CAST(sum(c) AS BIGINT) AS c, min(mn) AS mn, max(mx) AS mx
      |       FROM h GROUP BY event_type, (hb - (hb % 86400))),
      |dr AS (SELECT event_type, (et - (et % 86400)) AS db,
      |         sum(value) AS sv, count(*) AS c, min(value) AS mn, max(value) AS mx
      |       FROM pts GROUP BY event_type, (et - (et % 86400)))
      |SELECT dh.event_type, dh.db, round(dh.sv, 4) AS day_sum, dh.c AS day_cnt,
      |  round(dh.mn, 4) AS day_min, round(dh.mx, 4) AS day_max,
      |  (dh.c = dr.c AND abs(dh.sv - dr.sv) < 1e-6 AND dh.mn = dr.mn AND dh.mx = dr.mx) AS rollup_equal
      |FROM dh JOIN dr ON dh.event_type = dr.event_type AND dh.db = dr.db
      |ORDER BY dh.event_type, dh.db""".stripMargin)

  // SRE multi-window multi-burn SLO alert (the Google SRE workbook alert
  // shape): error-budget burn rate over a short (1 h) AND long (6 h)
  // window, alert only when BOTH exceed 1× budget — the form that pages on
  // real burn but ignores blips. Tumbling buckets; the 1 h row joins its
  // enclosing 6 h row by key arithmetic (no range join). Integer counts →
  // one double division each: deterministic cross-engine.
  q("TS-BURN-RATE",
    """WITH pts AS (SELECT event_type, CAST(ts AS BIGINT) AS et, value FROM events),
      |h AS (SELECT event_type, et - (et % 3600) AS hb,
      |        count(*) AS n, count(CASE WHEN value > 400 THEN 1 END) AS err
      |      FROM pts GROUP BY event_type, et - (et % 3600)),
      |l AS (SELECT event_type AS l_et, et - (et % 21600) AS lb,
      |        count(*) AS n6, count(CASE WHEN value > 400 THEN 1 END) AS err6
      |      FROM pts GROUP BY event_type, et - (et % 21600))
      |SELECT event_type, hb,
      |  round(err * 1.0D / n / 0.02D, 4) AS burn_short,
      |  round(err6 * 1.0D / n6 / 0.02D, 4) AS burn_long,
      |  (err * 1.0D / n / 0.02D > 1.0D AND err6 * 1.0D / n6 / 0.02D > 1.0D) AS alert
      |FROM h JOIN l ON event_type = l_et AND hb - (hb % 21600) = lb
      |ORDER BY event_type, hb""".stripMargin,
    s"""WITH pts AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS et, value FROM $EV e),
      |h AS (SELECT event_type, (et - (et % 3600)) AS hb,
      |        count(*) AS n, count(CASE WHEN value > 400 THEN 1 END) AS err
      |      FROM pts GROUP BY event_type, (et - (et % 3600))),
      |l AS (SELECT event_type, (et - (et % 21600)) AS lb,
      |        count(*) AS n6, count(CASE WHEN value > 400 THEN 1 END) AS err6
      |      FROM pts GROUP BY event_type, (et - (et % 21600)))
      |SELECT h.event_type, h.hb,
      |  round(err * 1.0 / n / 0.02, 4) AS burn_short,
      |  round(err6 * 1.0 / n6 / 0.02, 4) AS burn_long,
      |  ((err * 1.0 / n / 0.02) > 1.0 AND (err6 * 1.0 / n6 / 0.02) > 1.0) AS alert
      |FROM h JOIN l ON h.event_type = l.event_type AND (h.hb - (h.hb % 21600)) = l.lb
      |ORDER BY h.event_type, h.hb""".stripMargin)

  // pairwise Pearson correlation matrix across metric series (which metrics
  // move together): decimal-exact hourly sums per type, upper-triangle
  // hour-equality self-join (series² pairs of BUCKET rows, never raw), one
  // corr() per pair — corr is scale-invariant so engine factors cancel
  q("TS-CORR-MATRIX",
    """WITH pts AS (SELECT event_type, CAST(ts AS BIGINT) AS et, value FROM events),
      |h AS (SELECT event_type, et - (et % 3600) AS hb,
      |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
      |      FROM pts GROUP BY event_type, et - (et % 3600)),
      |a AS (SELECT event_type AS t1, hb, y AS ya FROM h),
      |b AS (SELECT event_type AS t2, hb AS hb2, y AS yb FROM h)
      |SELECT t1, t2, round(corr(ya, yb), 4) + 0.0D AS r, count(*) AS n
      |FROM a JOIN b ON hb = hb2 AND t1 < t2
      |GROUP BY t1, t2 ORDER BY t1, t2""".stripMargin,
    s"""WITH pts AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS et, value FROM $EV e),
      |h AS (SELECT event_type, (et - (et % 3600)) AS hb,
      |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
      |      FROM pts GROUP BY event_type, (et - (et % 3600)))
      |SELECT a.event_type AS t1, b.event_type AS t2,
      |  round(corr(a.y, b.y), 4) + 0.0 AS r, count(*) AS n
      |FROM h a JOIN h b ON a.hb = b.hb AND a.event_type < b.event_type
      |GROUP BY a.event_type, b.event_type
      |ORDER BY t1, t2""".stripMargin)

  // BM25 relevance ranking (Robertson/Spärck Jones) for a fixed query term
  // set: one shared token explode feeds lengths, corpus stats, tf and df;
  // df + corpus stats are broadcast-sized, rank decided on the ROUNDED
  // score (TEXT-TFIDF recipe). DSL twin: llm.TextAnalysis.bm25.
  q("TEXT-BM25",
    """WITH toks AS (SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents),
      |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
      |st AS (SELECT count(*) AS n, sum(len) AS tl FROM lens),
      |tf AS (SELECT doc_id, tok, count(*) AS f FROM toks
      |       WHERE tok IN ('join', 'vector', 'slow') GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, count(DISTINCT doc_id) AS d FROM toks
      |        WHERE tok IN ('join', 'vector', 'slow') GROUP BY tok)
      |SELECT tf.doc_id,
      |  round(sum(ln((n - d + 0.5) / (d + 0.5) + 1.0)
      |    * f * 2.2 / (f + 1.2 * (0.25 + 0.75 * len * n / CAST(tl AS DOUBLE)))), 4) + 0.0 AS bm25
      |FROM tf JOIN dfq ON tf.tok = dfq.tok JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN st
      |GROUP BY tf.doc_id
      |ORDER BY bm25 DESC, tf.doc_id LIMIT 15""".stripMargin,
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
      |st AS (SELECT count(*) AS n, sum(len) AS tl FROM lens),
      |tf AS (SELECT doc_id, tok, count(*) AS f FROM toks
      |       WHERE tok IN ('join', 'vector', 'slow') GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, count(DISTINCT doc_id) AS d FROM toks
      |        WHERE tok IN ('join', 'vector', 'slow') GROUP BY tok)
      |SELECT tf.doc_id,
      |  round(sum(ln((n - d + 0.5) / (d + 0.5) + 1.0)
      |    * f * 2.2 / (f + 1.2 * (0.25 + 0.75 * len * n / CAST(tl AS DOUBLE)))), 4) + 0.0 AS bm25
      |FROM tf JOIN dfq ON tf.tok = dfq.tok JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN st
      |GROUP BY tf.doc_id
      |ORDER BY bm25 DESC, tf.doc_id LIMIT 15""".stripMargin)

  // hot-key diagnostics (join/shuffle planning): top-5 keys with count,
  // share, and ratio-to-uniform. The row_number text is the contract; the
  // DSL twin is Quality.skewReport over graft_topk_by — a bounded heap
  // shipping ≤ k candidates per map partition, so billions of distinct
  // keys never hit a global sort. Keys zero-padded so the heap's string
  // tie-break (ord desc, item ASC) is numeric WITHIN the padded width —
  // padding is CONDITIONAL because lpad TRUNCATES longer strings (a
  // 7-digit key must pass through, not merge into a bogus 6-char hot
  // key; past the boundary the tie order is plain lexicographic,
  // identically on both engines).
  q("DQ-SKEW",
    """WITH c AS (SELECT CASE WHEN length(CAST(l_suppkey AS STRING)) >= 6
      |      THEN CAST(l_suppkey AS STRING)
      |      ELSE lpad(CAST(l_suppkey AS STRING), 6, '0') END AS key, count(*) AS cnt
      |    FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS nkeys FROM c),
      |r AS (SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rnk FROM c)
      |SELECT key, cnt, CAST(rnk AS INT) AS rnk,
      |  round(cnt * 1.0 / total, 4) AS share,
      |  round(cnt * 1.0 * nkeys / total, 4) AS skew
      |FROM r CROSS JOIN t WHERE rnk <= 5 ORDER BY rnk""".stripMargin,
    """WITH c AS (SELECT CASE WHEN length(CAST(l_suppkey AS VARCHAR)) >= 6
      |      THEN CAST(l_suppkey AS VARCHAR)
      |      ELSE lpad(CAST(l_suppkey AS VARCHAR), 6, '0') END AS key, count(*) AS cnt
      |    FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS nkeys FROM c),
      |r AS (SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rnk FROM c)
      |SELECT key, cnt, CAST(rnk AS INT) AS rnk,
      |  round(cnt * 1.0 / total, 4) AS share,
      |  round(cnt * 1.0 * nkeys / total, 4) AS skew
      |FROM r CROSS JOIN t WHERE rnk <= 5 ORDER BY rnk""".stripMargin)

  // multi-touch LINEAR attribution (the fractional complement to
  // EVENT-ATTRIBUTION's last-touch): every click in the purchase's 24 h
  // lookback shares credit 1/n; the join is USER-key equality with the
  // time band as residual — bounded per-user fan-out, never a cartesian
  q("EVENT-ATTRIB-LINEAR",
    """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS BIGINT) AS et,
      |    CAST(get_json_object(props, '$.k') AS BIGINT) % 4 AS ch FROM events),
      |p AS (SELECT event_id AS pid, user_id AS pu, et AS pt FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id AS cu, et AS ct, ch FROM e WHERE event_type = 'click'),
      |j AS (SELECT *, count(*) OVER (PARTITION BY pid) AS n
      |      FROM p JOIN c ON pu = cu AND ct > pt - 86400 AND ct <= pt)
      |SELECT ch AS channel, round(sum(1.0D / n), 4) AS credit, count(*) AS touches
      |FROM j GROUP BY ch ORDER BY channel""".stripMargin,
    s"""WITH e AS (SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS et,
      |    CAST(json_extract(props, '$$.k') AS BIGINT) % 4 AS ch FROM $EV ev),
      |p AS (SELECT event_id AS pid, user_id, et AS pt FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, et AS ct, ch FROM e WHERE event_type = 'click'),
      |j AS (SELECT pid, ch, count(*) OVER (PARTITION BY pid) AS n
      |      FROM p JOIN c ON p.user_id = c.user_id AND c.ct > p.pt - 86400 AND c.ct <= p.pt)
      |SELECT ch AS channel, round(sum(1.0 / n), 4) AS credit, count(*) AS touches
      |FROM j GROUP BY ch ORDER BY ch""".stripMargin)

  // PromQL-style counter increase() with reset handling: per-series
  // consecutive deltas (a reset contributes the new value, the counter
  // restart convention), per-hour sums — deltas pinned to DECIMAL so the
  // unordered bucket sum is exact cross-engine. One series-partitioned
  // lag + one aggregate; the monitoring rollup every TSDB serves.
  q("TS-INCREASE",
    """WITH pts AS (SELECT event_type, CAST(ts AS BIGINT) AS et, event_id, value FROM events),
      |d AS (SELECT event_type, et, event_id, value,
      |        lag(value) OVER (PARTITION BY event_type ORDER BY et, event_id) AS pv
      |      FROM pts),
      |t AS (SELECT event_type, (et - (et % 3600)) AS hb,
      |        CAST(round(CASE WHEN value >= pv THEN value - pv ELSE value END, 2) AS DECIMAL(18,2)) AS term
      |      FROM d WHERE pv IS NOT NULL)
      |SELECT event_type, hb, round(CAST(sum(term) AS DOUBLE), 2) AS increase
      |FROM t GROUP BY event_type, hb ORDER BY event_type, hb LIMIT 600""".stripMargin,
    s"""WITH pts AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS et, event_id, value FROM $EV e),
      |d AS (SELECT event_type, et, event_id, value,
      |        lag(value) OVER (PARTITION BY event_type ORDER BY et, event_id) AS pv
      |      FROM pts),
      |t AS (SELECT event_type, (et - (et % 3600)) AS hb,
      |        CAST(round(CASE WHEN value >= pv THEN value - pv ELSE value END, 2) AS DECIMAL(18,2)) AS term
      |      FROM d WHERE pv IS NOT NULL)
      |SELECT event_type, hb, round(CAST(sum(term) AS DOUBLE), 2) AS increase
      |FROM t GROUP BY event_type, hb ORDER BY event_type, hb LIMIT 600""".stripMargin)

  // time-weighted average (the right mean for irregularly-sampled gauges —
  // a value holds until the next sample): weight = seconds to next sample,
  // DECIMAL value×weight products so bucket sums are exact, one double
  // division at the end. One series-partitioned lead + one aggregate.
  q("TS-TWA",
    """WITH pts AS (SELECT event_type, CAST(ts AS BIGINT) AS et, event_id, value FROM events),
      |d AS (SELECT *, lead(et) OVER (PARTITION BY event_type ORDER BY et, event_id) AS nxt
      |      FROM pts),
      |t AS (SELECT event_type, et - (et % 3600) AS hb,
      |        CAST(value AS DECIMAL(18,2)) * (nxt - et) AS wv, nxt - et AS dt
      |      FROM d WHERE nxt IS NOT NULL AND nxt > et)
      |SELECT event_type, hb,
      |  round(CAST(sum(wv) AS DOUBLE) / CAST(sum(dt) AS BIGINT), 4) AS twa
      |FROM t GROUP BY event_type, hb ORDER BY event_type, hb LIMIT 600""".stripMargin,
    s"""WITH pts AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS et, event_id, value FROM $EV e),
      |d AS (SELECT event_type, et, value,
      |        lead(et) OVER (PARTITION BY event_type ORDER BY et, event_id) AS nxt
      |      FROM pts),
      |t AS (SELECT event_type, (et - (et % 3600)) AS hb,
      |        CAST(value AS DECIMAL(18,2)) * (nxt - et) AS wv, (nxt - et) AS dt
      |      FROM d WHERE nxt IS NOT NULL AND nxt > et)
      |SELECT event_type, hb,
      |  round(CAST(sum(wv) AS DOUBLE) / CAST(sum(dt) AS BIGINT), 4) AS twa
      |FROM t GROUP BY event_type, hb ORDER BY event_type, hb LIMIT 600""".stripMargin)

  // interval × interval overlap join — NO equi key (sessions × outages):
  // the contract SQL is the pure band theta join; the DSL twin is
  // RangeJoin.intervalOverlap — grid cells wide enough that each interval
  // explodes to ≤ 2, pairs meet ONLY in the canonical cell of the
  // overlap's start (exactly-once, no dedup pass), key-equality join.
  q("JOIN-INTERVAL-OVERLAP",
    """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS BIGINT) AS et FROM events),
      |a AS (SELECT event_id AS a_id, et AS al, et + 600 AS ah FROM e WHERE event_type = 'purchase' AND user_id < 30),
      |b AS (SELECT et AS bl, et + 900 AS bh FROM e WHERE event_type = 'click' AND user_id < 30)
      |SELECT a_id, count(*) AS n_overlap
      |FROM a JOIN b ON al <= bh AND bl <= ah
      |GROUP BY a_id ORDER BY a_id LIMIT 500""".stripMargin,
    s"""WITH e AS (SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS et FROM $EV ev),
      |a AS (SELECT event_id AS a_id, et AS al, et + 600 AS ah FROM e WHERE event_type = 'purchase' AND user_id < 30),
      |b AS (SELECT et AS bl, et + 900 AS bh FROM e WHERE event_type = 'click' AND user_id < 30)
      |SELECT a_id, count(*) AS n_overlap
      |FROM a JOIN b ON al <= bh AND bl <= ah
      |GROUP BY a_id ORDER BY a_id LIMIT 500""".stripMargin)

  // fact-to-SCD2-dimension point-in-time lookup — THE warehouse join: each
  // fact row picks the dimension version whose [valid_from, valid_to)
  // interval covers its timestamp. Equi key on the dimension key + the
  // validity band as residual — per-key version fan-out, never a theta
  // blow-up. DSL twin composes Cdc.scd2 with the band join.
  q("JOIN-SCD2-LOOKUP",
    """WITH ev AS (SELECT event_id, user_id, event_type, CAST(ts AS BIGINT) AS et, value FROM events),
      |log AS (SELECT user_id, et, event_id, CAST(floor(value / 100) AS INT) AS state
      |  FROM ev WHERE user_id < 30),
      |lw AS (SELECT user_id, et, state FROM (
      |    SELECT user_id, et, state,
      |      row_number() OVER (PARTITION BY user_id, et ORDER BY event_id DESC) AS rn
      |    FROM log) t WHERE rn = 1),
      |d AS (SELECT user_id, et, state,
      |        lag(state) OVER (PARTITION BY user_id ORDER BY et) AS ps
      |      FROM lw),
      |hist AS (SELECT user_id AS h_uid, et AS vf,
      |        lead(et) OVER (PARTITION BY user_id ORDER BY et) AS vt, state
      |      FROM d WHERE ps IS NULL OR ps <> state),
      |facts AS (SELECT event_id, user_id, et FROM ev WHERE event_type = 'purchase' AND user_id < 30)
      |SELECT f.event_id, f.user_id, h.state
      |FROM facts f JOIN hist h ON h.h_uid = f.user_id
      |  AND h.vf <= f.et AND (h.vt IS NULL OR f.et < h.vt)
      |ORDER BY f.event_id LIMIT 400""".stripMargin,
    s"""WITH ev AS (SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS et, value FROM $EV e),
      |log AS (SELECT user_id, et, event_id, CAST(floor(value / 100) AS INT) AS state
      |  FROM ev WHERE user_id < 30),
      |lw AS (SELECT user_id, et, state FROM (
      |    SELECT user_id, et, state,
      |      row_number() OVER (PARTITION BY user_id, et ORDER BY event_id DESC) AS rn
      |    FROM log) t WHERE rn = 1),
      |d AS (SELECT user_id, et, state,
      |        lag(state) OVER (PARTITION BY user_id ORDER BY et) AS ps
      |      FROM lw),
      |hist AS (SELECT user_id AS h_uid, et AS vf,
      |        lead(et) OVER (PARTITION BY user_id ORDER BY et) AS vt, state
      |      FROM d WHERE ps IS NULL OR ps <> state),
      |facts AS (SELECT event_id, user_id, et FROM ev WHERE event_type = 'purchase' AND user_id < 30)
      |SELECT f.event_id, f.user_id, h.state
      |FROM facts f JOIN hist h ON h.h_uid = f.user_id
      |  AND h.vf <= f.et AND (h.vt IS NULL OR f.et < h.vt)
      |ORDER BY f.event_id LIMIT 400""".stripMargin)

  // missing-data gap report: per-series hourly grid minus observations,
  // consecutive missing hours merged to maximal ranges (gaps-and-islands:
  // hb − 3600·rn is constant within a run) — the monitoring "data absent"
  // alert shape; all-integer arithmetic, exact both engines
  q("TS-GAPS",
    """WITH obs AS (SELECT DISTINCT event_type,
      |    CAST(ts AS BIGINT) - (CAST(ts AS BIGINT) % 3600) AS hb FROM events WHERE user_id < 40),
      |s AS (SELECT event_type, min(hb) AS mn, max(hb) AS mx FROM obs GROUP BY event_type),
      |grid AS (SELECT g_et, mn + h * 3600 AS g_hb, mx
      |         FROM (SELECT event_type AS g_et, explode(sequence(0, 200)) AS h, mn, mx FROM s) e
      |         WHERE mn + h * 3600 <= mx),
      |miss AS (SELECT * FROM grid LEFT ANTI JOIN obs ON g_et = event_type AND g_hb = hb),
      |isl AS (SELECT *, g_hb - 3600 * row_number() OVER (PARTITION BY g_et ORDER BY g_hb) AS grp
      |        FROM miss)
      |SELECT g_et AS event_type, min(g_hb) AS gap_start, max(g_hb) AS gap_end,
      |  count(*) AS n_missing
      |FROM isl GROUP BY g_et, grp
      |ORDER BY event_type, gap_start LIMIT 300""".stripMargin,
    s"""WITH obs AS (SELECT DISTINCT event_type,
      |    (CAST(floor(epoch(ts)) AS BIGINT) - (CAST(floor(epoch(ts)) AS BIGINT) % 3600)) AS hb FROM $EV e WHERE user_id < 40),
      |gs AS (SELECT unnest(generate_series(0, 200)) AS h),
      |s AS (SELECT event_type, min(hb) AS mn, max(hb) AS mx FROM obs GROUP BY event_type),
      |grid AS (SELECT event_type, (mn + h * 3600) AS hb
      |         FROM s, gs WHERE mn + h * 3600 <= mx),
      |miss AS (SELECT g.event_type, g.hb FROM grid g
      |         LEFT JOIN obs o ON o.event_type = g.event_type AND o.hb = g.hb
      |         WHERE o.hb IS NULL),
      |isl AS (SELECT event_type, hb,
      |          hb - 3600 * row_number() OVER (PARTITION BY event_type ORDER BY hb) AS grp
      |        FROM miss)
      |SELECT event_type, min(hb) AS gap_start, max(hb) AS gap_end,
      |  count(*) AS n_missing
      |FROM isl GROUP BY event_type, grp
      |ORDER BY event_type, gap_start LIMIT 300""".stripMargin)

  // distributed BPE merge training (Sennrich et al. 2016), three rounds
  // unrolled: per round ONE corpus-wide adjacent-pair count, a 1-row top
  // pick (ties to the smallest pair — deterministic), and a greedy
  // leftmost-non-overlapping merge application ANCHORED TO TOKEN
  // BOUNDARIES — double every separator (each boundary owns two spaces),
  // pad the ends, replace " A  B " → " A@B ", collapse space runs, trim.
  // A plain replace would also fire inside unrelated tokens ("XA B") and
  // under-merge adjacent runs; the anchored form is exact greedy BPE and
  // identical on both engines. The DSL twin is TextAnalysis.bpeMerges,
  // the iterative operator this text unrolls.
  private def bpeSparkRound(i: Int): String = {
    val p = i - 1
    s"""bg$i AS (SELECT pair, count(*) AS cnt FROM (
       |  SELECT explode(transform(sequence(0, size(split(text, ' ')) - 2),
       |    j -> concat(element_at(split(text, ' '), j + 1), ' ', element_at(split(text, ' '), j + 2)))) AS pair
       |  FROM d$p WHERE size(split(text, ' ')) >= 2) t GROUP BY pair),
       |p$i AS (SELECT pair, cnt FROM bg$i ORDER BY cnt DESC, pair LIMIT 1),
       |d$i AS (SELECT doc_id, regexp_replace(replace(replace(
       |  concat(' ', replace(text, ' ', '  '), ' '),
       |  concat(' ', replace((SELECT pair FROM p$i), ' ', '  '), ' '),
       |  concat(' ', replace((SELECT pair FROM p$i), ' ', '@'), ' ')),
       |  '  ', ' '), '^ | $$', '') AS text FROM d$p)""".stripMargin
  }
  private def bpeDuckRound(i: Int): String = {
    val p = i - 1
    s"""bg$i AS (SELECT pair, count(*) AS cnt FROM (
       |  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
       |    j -> string_split(text, ' ')[j] || ' ' || string_split(text, ' ')[j + 1])) AS pair
       |  FROM d$p WHERE len(string_split(text, ' ')) >= 2) t GROUP BY pair),
       |p$i AS (SELECT pair, cnt FROM bg$i ORDER BY cnt DESC, pair LIMIT 1),
       |d$i AS (SELECT doc_id, regexp_replace(replace(replace(
       |  ' ' || replace(text, ' ', '  ') || ' ',
       |  ' ' || replace((SELECT pair FROM p$i), ' ', '  ') || ' ',
       |  ' ' || replace((SELECT pair FROM p$i), ' ', '@') || ' '),
       |  '  ', ' '), '^ | $$', '', 'g') AS text FROM d$p)""".stripMargin
  }
  private val bpeTail =
    """
      |SELECT r, pair, cnt FROM (
      |  SELECT 1 AS r, pair, cnt FROM p1
      |  UNION ALL SELECT 2, pair, cnt FROM p2
      |  UNION ALL SELECT 3, pair, cnt FROM p3) u
      |ORDER BY r""".stripMargin
  q("LLM-BPE-TRAIN",
    "WITH d0 AS (SELECT doc_id, text FROM documents),\n" +
      (1 to 3).map(bpeSparkRound).mkString(",\n") + bpeTail,
    "WITH d0 AS (SELECT doc_id, text FROM documents),\n" +
      (1 to 3).map(bpeDuckRound).mkString(",\n") + bpeTail)

  // collocation extraction by pointwise mutual information — the classic
  // phrase-mining signal (ln p(ab)/(p(a)p(b))): unigram + adjacent-bigram
  // counts from ONE token-array frame, PMI via explicit DOUBLE casts
  // (Spark's `x * 1.0` is DECIMAL arithmetic whose clipped scale shifts
  // the 4th decimal — doubles are bit-identical cross-engine), support
  // floor cb >= 20, rank on the rounded score
  q("TEXT-PMI",
    """WITH toks AS (SELECT doc_id, split(text, ' ') AS t FROM documents),
      |utok AS (SELECT explode(t) AS tok FROM toks),
      |bg AS (SELECT t[i-1] AS t1, t[i] AS t2, count(*) AS cb
      |       FROM toks LATERAL VIEW explode(sequence(1, size(t) - 1)) s AS i
      |       GROUP BY t[i-1], t[i]),
      |uni AS (SELECT tok, count(*) AS c FROM utok GROUP BY tok),
      |n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
      |n2 AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM bg)
      |SELECT t1, t2, cb,
      |  round(ln((CAST(cb AS DOUBLE) / nb) / ((CAST(u1.c AS DOUBLE) / n) * (CAST(u2.c AS DOUBLE) / n))), 4) AS pmi
      |FROM bg JOIN uni u1 ON bg.t1 = u1.tok JOIN uni u2 ON bg.t2 = u2.tok
      |  CROSS JOIN n1 CROSS JOIN n2
      |WHERE cb >= 20
      |ORDER BY pmi DESC, t1, t2 LIMIT 40""".stripMargin,
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |utok AS (SELECT unnest(t) AS tok FROM toks),
      |bg AS (SELECT t[i] AS t1, t[i+1] AS t2, count(*) AS cb
      |       FROM toks CROSS JOIN unnest(generate_series(1, len(t) - 1)) AS g(i)
      |       GROUP BY t[i], t[i+1]),
      |uni AS (SELECT tok, count(*) AS c FROM utok GROUP BY tok),
      |n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
      |n2 AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM bg)
      |SELECT t1, t2, cb,
      |  round(ln((CAST(cb AS DOUBLE) / nb) / ((CAST(u1.c AS DOUBLE) / n) * (CAST(u2.c AS DOUBLE) / n))), 4) AS pmi
      |FROM bg JOIN uni u1 ON bg.t1 = u1.tok JOIN uni u2 ON bg.t2 = u2.tok
      |  CROSS JOIN n1 CROSS JOIN n2
      |WHERE cb >= 20
      |ORDER BY pmi DESC, t1, t2 LIMIT 40""".stripMargin)

  // DAU / trailing-7-day WAU / stickiness per day — the product-health
  // dashboard triple; WAU via a day-grid × day-band join of DAY-DISTINCT
  // user rows (bounded 7× fan-out), all-integer counts + one division
  q("EVENT-STICKINESS",
    """WITH pts AS (SELECT user_id,
      |    CAST(ts AS BIGINT) - (CAST(ts AS BIGINT) % 86400) AS db FROM events),
      |dau AS (SELECT db, count(DISTINCT user_id) AS dau FROM pts GROUP BY db),
      |wau AS (SELECT d_db, count(DISTINCT user_id) AS wau
      |        FROM (SELECT DISTINCT db AS d_db FROM pts) d
      |        JOIN pts ON db > d_db - 7 * 86400 AND db <= d_db
      |        GROUP BY d_db)
      |SELECT db, dau, wau, round(dau * 1.0D / wau, 4) AS stickiness
      |FROM dau JOIN wau ON db = d_db
      |ORDER BY db""".stripMargin,
    s"""WITH pts AS (SELECT user_id, (CAST(floor(epoch(ts)) AS BIGINT) - (CAST(floor(epoch(ts)) AS BIGINT) % 86400)) AS db FROM $EV e),
      |dau AS (SELECT db, count(DISTINCT user_id) AS dau FROM pts GROUP BY db),
      |wau AS (SELECT d.db, count(DISTINCT p.user_id) AS wau
      |        FROM (SELECT DISTINCT db FROM pts) d
      |        JOIN pts p ON p.db > d.db - 7 * 86400 AND p.db <= d.db
      |        GROUP BY d.db)
      |SELECT dau.db, dau.dau, wau.wau,
      |  round(dau.dau * 1.0 / wau.wau, 4) AS stickiness
      |FROM dau JOIN wau ON dau.db = wau.db
      |ORDER BY dau.db""".stripMargin)

  // rank-family completion: percent_rank (relative standing in [0,1]) +
  // dense_rank (gapless tier ids) — the two ranking functions the WIN-*
  // family did not yet declare; ties resolve identically on both engines
  // (equal inputs ⇒ equal ranks), the final sort tie-breaks on the key
  q("WIN-PERCENT-RANK",
    """SELECT o_custkey, o_orderkey,
      |  round(percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice), 4) AS pr,
      |  CAST(dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS BIGINT) AS dr,
      |  o_orderpriority
      |FROM orders WHERE o_custkey < 40
      |ORDER BY o_orderpriority, pr, o_orderkey LIMIT 300""".stripMargin)

  // session-LEVEL rollup (WIN-SESSIONIZE tags rows; this emits one row
  // per session): 30-min-gap breaks, running-sum session ids, then
  // count/duration/distinct-types per session — the product-analytics
  // session table; two stacked windows on ONE per-user sort + one
  // aggregate, all integers
  q("EVENT-SESSION-STATS",
    """WITH pts AS (SELECT user_id, CAST(ts AS BIGINT) AS et, event_id, event_type FROM events WHERE user_id < 25),
      |d AS (SELECT user_id, et, event_id, event_type,
      |        CASE WHEN et - lag(et) OVER (PARTITION BY user_id ORDER BY et, event_id) > 1800
      |             THEN 1 ELSE 0 END AS brk
      |      FROM pts),
      |sid AS (SELECT user_id, et, event_id, event_type,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY et, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |        FROM d),
      |st AS (SELECT user_id, s, count(*) AS n_events,
      |         max(et) - min(et) AS dur,
      |         count(DISTINCT event_type) AS n_types
      |       FROM sid GROUP BY user_id, s)
      |SELECT user_id, CAST(s AS BIGINT) AS sid, n_events, dur, n_types
      |FROM st ORDER BY user_id, sid LIMIT 500""".stripMargin,
    s"""WITH pts AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS et, event_id, event_type FROM $EV e WHERE user_id < 25),
      |d AS (SELECT user_id, et, event_id, event_type,
      |        CASE WHEN et - lag(et) OVER (PARTITION BY user_id ORDER BY et, event_id) > 1800
      |             THEN 1 ELSE 0 END AS brk
      |      FROM pts),
      |sid AS (SELECT user_id, et, event_id, event_type,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY et, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |        FROM d),
      |st AS (SELECT user_id, s, count(*) AS n_events,
      |         max(et) - min(et) AS dur,
      |         count(DISTINCT event_type) AS n_types
      |       FROM sid GROUP BY user_id, s)
      |SELECT user_id, CAST(s AS BIGINT) AS sid, n_events, dur, n_types
      |FROM st ORDER BY user_id, sid LIMIT 500""".stripMargin)

  // per-column profiling (null/nonnull/distinct/min/max). The UNION text is
  // the declarative contract; the DSL twin (operators.Quality.profile) folds
  // all columns into ONE aggregate pass — cols× fewer scans at 100 TB.
  q("DQ-PROFILE",
    """SELECT 'o_custkey' AS col, count(*) AS n_rows, count(o_custkey) AS n_nonnull,
      |  count(DISTINCT o_custkey) AS n_distinct,
      |  round(min(o_custkey) + 0.0, 4) AS min_val, round(max(o_custkey) + 0.0, 4) AS max_val FROM orders
      |UNION ALL
      |SELECT 'o_totalprice', count(*), count(o_totalprice), count(DISTINCT o_totalprice),
      |  round(min(o_totalprice), 4), round(max(o_totalprice), 4) FROM orders
      |UNION ALL
      |SELECT 'o_orderstatus', count(*), count(o_orderstatus), count(DISTINCT o_orderstatus),
      |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM orders
      |UNION ALL
      |SELECT 'o_orderpriority', count(*), count(o_orderpriority), count(DISTINCT o_orderpriority),
      |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM orders
      |ORDER BY col""".stripMargin)

  // constraint validation: pk uniqueness, fk orphans, range, null, enum —
  // each check one aggregate/anti-join, unioned into a (check, violations,
  // ok) report. Zero-violation results are part of the contract.
  q("DQ-CHECK",
    """SELECT chk, violations, violations = 0 AS ok FROM (
      |  SELECT 'pk_unique_orders' AS chk,
      |    CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS violations
      |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1) t
      |  UNION ALL
      |  SELECT 'fk_lineitem_orders', count(*) FROM lineitem
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      |  UNION ALL
      |  SELECT 'range_totalprice_pos', count(*) FROM orders WHERE o_totalprice <= 0
      |  UNION ALL
      |  SELECT 'nonnull_custkey', count(*) FROM orders WHERE o_custkey IS NULL
      |  UNION ALL
      |  SELECT 'enum_orderstatus', count(*) FROM orders
      |  WHERE o_orderstatus NOT IN ('F', 'O', 'P')) u
      |ORDER BY chk""".stripMargin)

  val all: Seq[Query] = buf.toList

  def byId(id: String): Query = all.find(_.id == id).getOrElse(
    throw new NoSuchElementException(s"no inventory query '$id'"))
}
