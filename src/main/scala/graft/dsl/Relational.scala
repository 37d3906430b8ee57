package graft.dsl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.llm.{Similarity, TextAnalysis}
import graft.operators.AsOfJoin

/** DataFrame implementations of the SURVEY §2b inventory queries whose plan
  * differs from their SQL in graft.queries.Inventory: they reach an engine
  * operator the SQL cannot (`AsOfJoin`, `GlobalWindow`, `Segmented*`,
  * `Tables.spread`, graft.llm), or shape the plan by hand. SparkEntry serves
  * an inventory query's SQL unless it has an entry here, so an entry whose
  * optimized plan is the SQL's would be a second copy of the same program;
  * DslParitySpec fails on one. Every entry is hash-equal to its SQL
  * (DslParitySpec, and the driver's DuckDB oracle through SparkEntry).
  *
  * Tables come from the temp views registered by graft.core.Tables.
  */
object Relational {

  private def dec(p: Int, s: Int) = DecimalType(p, s)

  /** DataFrame implementation per inventory query id. */
  val impls: Map[String, SparkSession => DataFrame] = Map(
    // scale-path as-of join: union + running last() — O(n log n), not the
    // SQL twin's O(clicks x purchases) theta-join (see graft.operators.AsOfJoin)
    "JOIN-ASOF" -> { s =>
      val ev = s.table("events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.where(col("event_type") === "click").select("user_id", "ts")
      AsOfJoin.lastBefore(clicks, purchases, "user_id", "ts", "event_id")
        .select(col("event_id"),
          col("last_left_ts").cast("long").as("last_click_epoch"))
        .orderBy("event_id").limit(80)
    },

    // spread: the single-split scan otherwise serializes the decimal
    // partial agg on one core (no-op at real scale — Tables.spread is
    // adaptive, so the canonical partial→Exchange→final plan is kept there)
    "AGG-TPCH-Q1" -> (s => graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity").cast(dec(18, 2))).cast("double"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice").cast(dec(18, 2))).cast("double"), 2).as("sum_base"),
        round(avg(col("l_discount").cast(dec(18, 6))).cast("double"), 4).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")),

    // TPC-H composition shapes: selective dim filters first (pushed to the
    // scans), dims broadcast, one fact shuffle each; revenue in DECIMAL
    // for exact order-independent sums (the Q1 trick)
    "JOIN-TPCH-Q3" -> { s =>
      val rev = sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(dec(18, 4)))
      val cust = s.table("customer").where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = s.table("orders")
        .where(col("o_orderdate") < lit("1997-03-15").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .where(col("l_shipdate") > lit("1997-03-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(rev.cast("double"), 2).as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          col("o_orderdate").cast("date").as("odate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },

    "JOIN-TPCH-Q5" -> { s =>
      val rev = sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(dec(18, 4)))
      val asiaNations = s.table("nation")
        .join(broadcast(s.table("region").where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val supp = s.table("supplier")
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val cust = s.table("customer").select("c_custkey", "c_nationkey")
      val ord = s.table("orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(round(rev.cast("double"), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    "JOIN-TPCH-Q10" -> { s =>
      val rev = sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(dec(18, 4)))
      val ord = s.table("orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .where(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val cust = s.table("customer")
        .join(broadcast(s.table("nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(rev.cast("double"), 2).as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          round(col("c_acctbal"), 2).as("acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    },

    // Q18 large-volume orders: the having-derived semi-join shape. The key
    // list is an AGGREGATE of the fact table (not a dim scan), so it is not
    // hinted broadcast — at 100 TB the qualifying set can exceed the hint
    // threshold; AQE converts the semi join to broadcast at runtime when
    // the aggregate output is actually small. qty sums are integral
    // doubles (exact in fp), safe under the %.4f canonicalizer.
    "JOIN-TPCH-Q18" -> { s =>
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_orderkey", "l_quantity")
      val bigOrders = li.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("s"))
        .where(col("s") > 300).select("l_orderkey")
      val ord = s.table("orders")
        .join(bigOrders, col("o_orderkey") === bigOrders("l_orderkey"), "left_semi")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(s.table("customer").select("c_custkey", "c_name")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(sum("l_quantity").as("qty"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("odate"),
          round(col("o_totalprice"), 2).as("totalprice"), col("qty"))
        .orderBy(col("totalprice").desc, col("o_orderkey")).limit(100)
    },

    // Q21-shape composition: semi AND anti correlated subqueries against
    // the SAME fact table — "suppliers whose returned line sat in a
    // finished multi-supplier order where NO other supplier also had a
    // return". Both subqueries decorrelate to orderkey-equality joins with
    // a suppkey<> residual (SortMergeJoin LeftSemi/LeftAnti — never a
    // cartesian); the 'F'-status order filter is itself a semi join (the
    // orders columns aren't projected), and the supplier×nation dim rides
    // broadcast. Fixture lineitem has no receipt/commit dates, so "kept
    // the order waiting" is adapted to l_returnflag = 'R'.
    "JOIN-TPCH-Q21" -> { s =>
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
      val l1 = li.where(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey")
      val others = li.select(col("l_orderkey").as("o2_ok"),
        col("l_suppkey").as("o2_sk"))
      val lateOthers = li.where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3_ok"), col("l_suppkey").as("o3_sk"))
      val fOrders = s.table("orders")
        .where(col("o_orderstatus") === "F").select("o_orderkey")
      val sup = s.table("supplier")
        .join(broadcast(s.table("nation").where(col("n_nationkey") < 13)),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
      l1.join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(others, col("l_orderkey") === col("o2_ok") &&
          col("l_suppkey") =!= col("o2_sk"), "left_semi")
        .join(lateOthers, col("l_orderkey") === col("o3_ok") &&
          col("l_suppkey") =!= col("o3_sk"), "left_anti")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name", "n_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(100)
    },

    // Q2 min-cost supplier: the correlated MIN decorrelates to a per-part
    // aggregate joined back on (partkey, price = min). The part slice is
    // applied FIRST as a broadcast semi join, so the per-part min is only
    // computed for qualifying parts — at 100 TB the aggregate input is the
    // slice, not the fact table.
    "JOIN-TPCH-Q2" -> { s =>
      val pSlice = s.table("part")
        .where(col("p_type") === "STANDARD" && col("p_size") <= 5)
        .select("p_partkey", "p_name")
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
      val sliced = li.join(broadcast(pSlice.select(col("p_partkey").as("pk"))),
        col("l_partkey") === col("pk"), "left_semi")
      val minp = sliced.groupBy(col("l_partkey").as("mpk"))
        .agg(min("l_extendedprice").as("minp"))
      sliced.join(broadcast(minp),
          col("l_partkey") === col("mpk") && col("l_extendedprice") === col("minp"))
        .join(broadcast(pSlice), col("l_partkey") === col("p_partkey"))
        .join(broadcast(s.table("supplier").select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
          round(col("l_extendedprice"), 2).as("minprice"))
        .orderBy("p_partkey", "s_suppkey").limit(100)
    },

    // Q4 order-priority checking: the correlated EXISTS is an orderkey
    // semi join with the ship-after-30-days residual inside the join
    // condition — never materializing the matching lineitems.
    "JOIN-TPCH-Q4" -> { s =>
      val ord = s.table("orders")
        .where(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_orderkey", "l_shipdate")
      ord.join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL '30' DAY"),
          "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // Q7 volume shipping: nation→region names decorate supplier/customer
    // via broadcast dims (pre-pruned to the two blocs); one fact shuffle.
    "JOIN-TPCH-Q7" -> { s =>
      val nr = s.table("nation")
        .join(broadcast(s.table("region")), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name").isin("ASIA", "EUROPE"))
        .select("n_nationkey", "r_name")
      val supp = s.table("supplier")
        .join(broadcast(nr.select(col("n_nationkey").as("snk"),
          col("r_name").as("supp_region"))), col("s_nationkey") === col("snk"))
        .select("s_suppkey", "supp_region")
      val cust = s.table("customer")
        .join(broadcast(nr.select(col("n_nationkey").as("cnk"),
          col("r_name").as("cust_region"))), col("c_nationkey") === col("cnk"))
        .select("c_custkey", "cust_region")
      val ord = s.table("orders").select("o_orderkey", "o_custkey")
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .where((col("supp_region") === "ASIA" && col("cust_region") === "EUROPE") ||
          (col("supp_region") === "EUROPE" && col("cust_region") === "ASIA"))
        .groupBy(col("supp_region"), col("cust_region"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec(18, 4))).cast("double"), 2).as("revenue"))
        .orderBy("supp_region", "cust_region", "l_year")
    },

    // Q8 market share: the part slice and the ASIA customer set are both
    // broadcast filters (semi join for customers — only membership is
    // used); supplier nation decorates the surviving rows. Both ratio
    // sums ride DECIMAL; one deterministic double division at the end.
    "JOIN-TPCH-Q8" -> { s =>
      val pe = s.table("part").where(col("p_type") === "ECONOMY").select("p_partkey")
      val asiaKeys = s.table("nation")
        .join(broadcast(s.table("region").where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")
      val asiaCust = s.table("customer")
        .join(broadcast(asiaKeys), col("c_nationkey") === col("n_nationkey"), "left_semi")
        .select("c_custkey")
      val supN = s.table("supplier")
        .join(broadcast(s.table("nation").select(col("n_nationkey").as("snk"),
          col("n_name").as("nat"))), col("s_nationkey") === col("snk"))
        .select("s_suppkey", "nat")
      val ord = s.table("orders").select("o_orderkey", "o_custkey", "o_orderdate")
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      val vol = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec(18, 4))
      li.join(broadcast(pe), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(when(col("nat") === "NATION_2", vol).otherwise(lit(0).cast(dec(18, 4))))
            .cast("double") / sum(vol).cast("double"), 4).as("mkt_share"))
        .orderBy("o_year")
    },

    // Q11 important parts: per-part value vs a threshold derived from ONE
    // global aggregate (total + distinct-part count in a single pass,
    // broadcast as a 1-row frame — the scalar-subquery pattern).
    "AGG-TPCH-Q11" -> { s =>
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_partkey", "l_extendedprice")
      val per = li.groupBy("l_partkey")
        .agg(sum(col("l_extendedprice").cast(dec(18, 2))).as("value"))
      val tot = li.agg(
        sum(col("l_extendedprice").cast(dec(18, 2))).cast("double").as("tot"),
        countDistinct("l_partkey").as("np"))
      per.crossJoin(broadcast(tot))
        .where(col("value").cast("double") > lit(1.5) * col("tot") / col("np"))
        .select(col("l_partkey"), round(col("value").cast("double"), 2).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    },

    // Q14 promo revenue: one month of fact rows, part type via broadcast,
    // conditional/total DECIMAL sums, single double division.
    "JOIN-TPCH-Q14" -> { s =>
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .where(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .select("l_partkey", "l_extendedprice", "l_discount")
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec(18, 4))
      li.join(broadcast(s.table("part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(dec(18, 4))))
            .cast("double") / sum(rev).cast("double"), 4).as("promo_revenue"))
    },

    // Q15 top supplier: the scalar max over the derived revenue view is a
    // 1-row broadcast; DECIMAL equality keeps the tie-set exact.
    "JOIN-TPCH-Q15" -> { s =>
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      val rev = li.groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec(18, 4))).as("total_revenue"))
      val mx = rev.agg(max("total_revenue").as("mx"))
      rev.crossJoin(broadcast(mx)).where(col("total_revenue") === col("mx"))
        .join(broadcast(s.table("supplier").select("s_suppkey", "s_name")),
          col("supplier_no") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_revenue").cast("double"), 2).as("total_revenue"))
        .orderBy("s_suppkey")
    },

    // Q17 small-quantity revenue: the correlated AVG decorrelates to a
    // per-part aggregate over the SLICED fact rows (the slice is a part-
    // attribute filter, so per-part stats are unchanged by pre-filtering).
    "JOIN-TPCH-Q17" -> { s =>
      val pSlice = s.table("part")
        .where(col("p_brand") === "Brand#23" && col("p_size") <= 25)
        .select("p_partkey")
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val sliced = li.join(broadcast(pSlice),
        col("l_partkey") === col("p_partkey"), "left_semi")
      val avgq = sliced.groupBy(col("l_partkey").as("apk"))
        .agg((lit(0.2) * avg("l_quantity")).as("thresh"))
      sliced.join(broadcast(avgq), col("l_partkey") === col("apk"))
        .where(col("l_quantity") < col("thresh"))
        .agg(round(sum(col("l_extendedprice").cast(dec(18, 2)))
          .cast("double") / lit(7.0), 2).as("avg_yearly"))
    },

    // Q19 disjunctive predicates: the part side is pre-pruned to the three
    // brands (a pushable disjunction residual), quantity conjuncts apply
    // after the broadcast join.
    "JOIN-TPCH-Q19" -> { s =>
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val p = s.table("part")
        .where(col("p_brand").isin("Brand#12", "Brand#23", "Brand#4"))
        .select("p_partkey", "p_brand", "p_size")
      val cond =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#4" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .where(cond)
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec(18, 4))).cast("double"), 2).as("revenue"))
    },

    // Q20 excess-share supplier: two stacked fact aggregates (per-pair
    // quantity, per-part max) joined on (part, q = max); the blue-part
    // slice pushes down as a semi join before either aggregate. Quantity
    // sums are integral doubles — max-equality is exact.
    "JOIN-TPCH-Q20" -> { s =>
      val blue = s.table("part").where(col("p_name").like("blue%"))
        .select("p_partkey")
      val per = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(broadcast(blue), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey").agg(sum("l_quantity").as("q"))
      val mx = per.groupBy(col("l_partkey").as("mpk")).agg(max("q").as("mq"))
      val winners = per.join(broadcast(mx),
          col("l_partkey") === col("mpk") && col("q") === col("mq"))
        .select("l_suppkey").distinct()
      s.table("supplier")
        .join(winners, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name").orderBy("s_suppkey")
    },

    // Q6 canonical pushdown: every predicate reaches the parquet scan
    // (PlanAudit family), one DECIMAL sum, no join
    "AGG-TPCH-Q6" -> { s =>
      graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum((col("l_extendedprice") * col("l_discount"))
          .cast(dec(18, 4))).cast("double"), 2).as("revenue"))
    },

    // Q9 product profit: color slice broadcast with its retailprice (the
    // cost side), supplier→nation broadcast, one fact shuffle to
    // (nation, year)
    "JOIN-TPCH-Q9" -> { s =>
      val reds = s.table("part").where(col("p_name").like("red%"))
        .select("p_partkey", "p_retailprice")
      val supN = s.table("supplier")
        .join(broadcast(s.table("nation")), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      val ord = s.table("orders").select("o_orderkey", "o_orderdate")
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_orderkey", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount", "l_quantity")
      val amount = (col("l_extendedprice") * (lit(1) - col("l_discount")) -
        lit(0.5) * col("p_retailprice") * col("l_quantity")).cast(dec(18, 4))
      li.join(broadcast(reds), col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name").as("nat"), year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(amount).cast("double"), 2).as("sum_profit"))
        .orderBy(col("nat"), col("o_year").desc)
    },

    // Q12 priority classes over late shipments: the +30-day residual
    // rides inside the join condition; conditional counts stay BIGINT
    "JOIN-TPCH-Q12" -> { s =>
      val ord = s.table("orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
      val li = graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_shipdate", "l_returnflag")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(ord, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL '30' DAY"))
        .groupBy("l_returnflag")
        .agg(count(when(high, lit(1))).as("high_line_count"),
          count(when(!high, lit(1))).as("low_line_count"))
        .orderBy("l_returnflag")
    },

    // Q16 supplier diversity: NOT IN → anti join against the (tiny,
    // broadcast) excluded-supplier set BEFORE the distinct aggregate;
    // distinct-supplier count shuffles on the group keys once
    "JOIN-TPCH-Q16" -> { s =>
      val pSlice = s.table("part")
        .where(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(5, 10, 15, 20, 25, 30, 35, 40))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val excluded = s.table("supplier").where(col("s_acctbal") < 0.0)
        .select("s_suppkey")
      graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
        .select("l_partkey", "l_suppkey")
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(pSlice), col("l_partkey") === col("p_partkey"))
        .select("p_brand", "p_type", "p_size", "l_suppkey").distinct()
        .groupBy("p_brand", "p_type", "p_size")
        .agg(count(lit(1)).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size")).limit(100)
    },

    // Lagged cross-correlation of two metric series: hourly bucket sums
    // (decimal-exact), purchase shifted 0..3h, Pearson r from re-pinned
    // moment sums — every aggregate exact, only the closed form in double
    "TS-XCORR" -> { s =>
      def series(et: String, bName: String, vName: String) =
        s.table("events").where(col("event_type") === et)
          .groupBy(floor(col("ts").cast("double") / 3600).cast("bigint").as(bName))
          .agg(sum(col("value").cast(dec(18, 2))).cast("double").as(vName))
      val a = series("click", "b", "x")
      val p = series("purchase", "pb", "y")
      val l = s.range(0, 4).select(col("id").cast("int").as("lagh"))
      val j = a.crossJoin(l).join(p, col("pb") === col("b") + col("lagh"))
      def d(c: Column) = c.cast("double")
      val (n, sx, sy) = (d(count(lit(1))),
        d(sum(col("x").cast(dec(18, 2)))), d(sum(col("y").cast(dec(18, 2)))))
      val (sxy, sxx, syy) = (
        d(sum((col("x") * col("y")).cast(dec(28, 4)))),
        d(sum((col("x") * col("x")).cast(dec(28, 4)))),
        d(sum((col("y") * col("y")).cast(dec(28, 4)))))
      // degenerate lag groups (n=1 or zero variance) are filtered on the
      // moment products BEFORE the sqrt/division: the decimal-rounded
      // moments can make the variance term a hair negative, and
      // NaN/inf handling diverges between engines
      j.groupBy("lagh")
        .agg(count(lit(1)).as("n"),
          (n * sxy - sx * sy).as("num"),
          ((n * sxx - sx * sx) * (n * syy - sy * sy)).as("den"))
        .where(col("den") > 0)
        .select(col("lagh"), col("n"),
          round(col("num") / sqrt(col("den")), 4).as("r"))
        .orderBy("lagh")
    },

    // Scale twin: the 6×6 matrix-affine chunk decomposition
    // (operators.SegmentedAffine with the Holt-Winters step) — the same
    // partitioned two-aggregate no-window plan as TS-EMA/HOLT-SCALE,
    // generalized to the rotating seasonal state
    "TS-HOLT-WINTERS-SCALE" -> { s =>
      val (m, c) = graft.operators.SegmentedAffine.holtWintersStep(0.3, 0.2, 0.3)
      graft.operators.SegmentedAffine.affineFinal(s.table("events"),
          seriesCols = Seq("event_type"), rangeKey = col("ts").cast("double"),
          orderCols = Seq(col("ts"), col("event_id")), valueCol = col("value"),
          m = m, cVec = c)
        .select(col("event_type"), col("n").cast("int").as("n"),
          round(element_at(col("s"), 1), 4).as("level"),
          round(element_at(col("s"), 2), 4).as("trend"),
          round(element_at(col("s"), 1) + element_at(col("s"), 2) +
            element_at(col("s"), 3), 4).as("forecast"))
        .orderBy("event_type")
    },

    // Scale twin: graft.operators.SegmentedHolt's chunked matrix-affine
    // decomposition — the same partitioned two-aggregate plan as
    // TS-EMA-SCALE, generalized to the (level, trend) state
    "TS-HOLT-SCALE" -> { s =>
      graft.operators.SegmentedHolt.holtFinal(s.table("events"),
          seriesCols = Seq("event_type"), rangeKey = col("ts").cast("double"),
          orderCols = Seq(col("ts"), col("event_id")), valueCol = col("value"))
        .select(col("event_type"), col("n").cast("int").as("n"),
          round(col("level"), 4).as("level"), round(col("trend"), 4).as("trend"))
        .orderBy("event_type")
    },

    // Scale twin of TS-EMA: identical sequential-fold semantics (the SQL
    // twin IS the ordered fold — that's what the oracle checks), computed
    // by graft.operators.SegmentedEma's chunked affine decomposition —
    // two partitioned hash aggregates, no whole-series array on any task.
    "TS-EMA-SCALE" -> { s =>
      graft.operators.SegmentedEma.emaFinal(s.table("events"),
          seriesCols = Seq("event_type"), rangeKey = col("ts").cast("double"),
          orderCols = Seq(col("ts"), col("event_id")), valueCol = col("value"))
        .select(col("event_type"), col("n").cast("int").as("n"),
          round(col("ema"), 4).as("ema"))
        .orderBy("event_type")
    },

    // Scale-path twins of the three global-window shapes: identical
    // results (the SQL twins ARE the plain global windows), computed by
    // graft.operators.GlobalWindow's partitioned plans — range-bucketed
    // key, bucket-local window, broadcast boundary/offset metadata. The
    // only unpartitioned WindowExec runs over the per-bucket AGGREGATE
    // (metadata scale), never over the data; PlanAuditSpec asserts it.
    "WIN-LAG-LEAD-SCALE" -> { s =>
      graft.operators.GlobalWindow.lagLead(s.table("events"),
          rangeKey = col("ts").cast("double"), orderCols = Seq("ts", "event_id"),
          valueCol = "event_id", prevName = "prev_id", nextName = "next_id")
        .select("event_id", "prev_id", "next_id")
        .orderBy("event_id").limit(100)
    },

    "WIN-FRAME-RANGE-SCALE" -> { s =>
      graft.operators.GlobalWindow.rangeCount(s.table("orders"),
          key = col("o_totalprice").cast(dec(18, 2)), span = 1000L, cntName = "near_cnt")
        .select("o_orderkey", "near_cnt")
        .orderBy(col("o_orderkey").desc).limit(80)
    },

    "WIN-NTILE-SCALE" -> { s =>
      graft.operators.GlobalWindow.ntileGlobal(s.table("orders"),
          rangeKey = negate(col("o_totalprice").cast("double")),
          orderCols = Seq(col("o_totalprice").cast(dec(18, 2)).desc, col("o_orderkey")),
          n = 4, tileName = "q")
        .select("o_orderkey", "q")
        .orderBy(col("o_orderkey").desc).limit(80)
    },

    "STREAM-SLIDE" -> { s =>
      val shifts = s.range(2).select((col("id") * 10800).cast("int").as("s"))
      s.table("events").crossJoin(shifts)
        .select((floor((col("ts").cast("double") - col("s")) / 21600) * 21600
          + col("s")).cast("bigint").as("wstart"))
        .groupBy("wstart").agg(count(lit(1)).as("c"))
        .orderBy("wstart").limit(100)
    },

    "LLM-COSINE-TOPK" -> (s => Similarity.cosineTopK(s.table("embeddings"), 0L, 5)),

    "PARSE-DECONSTRUCT" -> { s =>
      val line = concat(lit("svc."), col("event_type"), lit(".count "),
        round(col("value"), 2).cast("string"), lit(" "),
        col("ts").cast(dec(20, 0)).cast("string"))
      graft.ingest.Carbon.parseLines(s.table("events").select(line.as("line")))
        .orderBy("epoch", "metric").limit(50)
    },

    // ------------------------------------------------- round-2 additions

    // spread first: the formatted price participates in the sort, so every
    // row formats — on a single-split lineitem that is one core's work
    "FN-FORMAT" -> (s => graft.core.Tables.spread(s.table("lineitem"), "l_orderkey")
      .select(col("l_orderkey"), col("l_linenumber"),
        format_string("%05d|%s", col("l_linenumber"), col("l_returnflag")).as("tag"),
        format_string("%.2f", round(col("l_extendedprice"), 2)).as("price"),
        repeat(lit("*"), col("l_linenumber").cast("int")).as("stars"))
      .orderBy("l_orderkey", "l_linenumber", "price").limit(50)),

    // both explode the whole corpus: spread the (often single-split) source
    // first so the per-row string work parallelizes
    "TEXT-VOCAB" -> (s => graft.core.Tables.spread(s.table("documents"), "doc_id")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(20)),

    "TEXT-BIGRAMS" -> { s =>
      // zip_with over two shifted slices beats transform(sequence):
      // no per-element array index lookups, one pass over the tokens
      val t = split(col("text"), " ")
      graft.core.Tables.spread(s.table("documents"), "doc_id")
        .select(explode(zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("bigram")).limit(20)
    },

    // Gopher-style repetition signals: mode-token fraction (one explode →
    // groupBy) + duplicate-bigram fraction (pure array work, no shuffle)
    "TEXT-REPETITION" -> { s =>
      val toks = graft.core.Tables.spread(s.table("documents"), "doc_id")
        .where(col("doc_id") < 60)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val tf = toks.select(col("doc_id"), explode(col("t")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val top = tf.groupBy("doc_id").agg(max("c").as("topc"), sum("c").as("n"))
      val t = col("t")
      val big = toks.where(size(t) >= 2).select(col("doc_id"),
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => concat_ws(" ", a, b)).as("bg"))
      top.join(big, "doc_id")
        .select(col("doc_id"),
          round(col("topc").cast("double") / col("n"), 4).as("top_tok_frac"),
          round(lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")), 4)
            .as("dup_bigram_frac"))
        .orderBy("doc_id")
    },

    // tf-idf top terms: tf and df share one exploded token stream; df is
    // vocabulary-sized (broadcast side of the join at any corpus scale)
    "TEXT-TFIDF" -> { s =>
      val toks = graft.core.Tables.spread(s.table("documents"), "doc_id")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("f"))
      val df = toks.groupBy("tok").agg(countDistinct("doc_id").as("d"))
      val n = s.table("documents").agg(countDistinct("doc_id").as("nd"))
      val score = round(col("f") * log(col("nd").cast("double") / col("d")), 4)
      val w = Window.partitionBy("doc_id").orderBy(score.desc, col("tok"))
      tf.join(broadcast(df), "tok").crossJoin(broadcast(n))
        .select(col("doc_id"), col("tok"), score.as("tfidf"),
          row_number().over(w).as("rn"))
        .where(col("rn") <= 3 && col("doc_id") < 20)
        .orderBy("doc_id", "rn")
    },

    // last-touch attribution via the payload-carrying as-of join — one
    // sort-based window pass, no per-key pair blow-up
    "EVENT-ATTRIBUTION" -> { s =>
      val ev = s.table("events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      AsOfJoin.lastBeforeWith(clicks, purchases, "user_id", "ts", "event_id", "click_id")
        .select(col("event_id"), col("last_payload").as("click_id"))
        .orderBy("event_id").limit(80)
    },

    // fuzzy near-dup pairs: noun-blocked self-join (key-equality), length
    // band in the join condition, Levenshtein threshold in the residual
    "LLM-FUZZY-PAIRS" -> { s =>
      val p = graft.core.Tables.spread(s.table("part"), "p_partkey")
        .where(col("p_partkey") <= 5000)
        .select(col("p_partkey").as("k"), col("p_name").as("nm"),
          element_at(split(col("p_name"), " "), -1).as("noun"))
      // exact mode (maxBlock = 0) — the capped variant is the scale path
      // for over-hot blocking keys (FuzzyCapSpec)
      graft.llm.Dedup.fuzzyPairs(p, "k", "nm", "noun", maxEdit = 2, lengthBand = 2)
        .groupBy(col("blk").as("noun"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("d")).cast("bigint").as("min_d"))
        .orderBy("noun")
    },

    // "concat and chunk" training-sequence packing: per-source cumulative
    // token sum (partitioned window), chunk range per doc, one explode
    "LLM-PACK" -> { s =>
      val d = graft.core.Tables.spread(s.table("documents"), "doc_id")
        .where(col("doc_id") < 200)
        .select(col("source"), col("doc_id"), size(split(col("text"), " ")).as("toks"))
      val w = Window.partitionBy("source").orderBy("doc_id")
      val st = d.withColumn("send", sum("toks").over(w))
        .withColumn("sstart", col("send") - col("toks"))
        .withColumn("c0", floor((col("send") - col("toks")) / 128).cast("int"))
        .withColumn("c1", floor((col("send") - 1) / 128).cast("int"))
      st.select(col("source"), col("doc_id"), col("sstart"), col("send"),
          explode(sequence(col("c0"), col("c1"))).as("ch"))
        .select(col("source"), col("ch").cast("int").as("chunk_id"), col("doc_id"),
          (greatest(col("sstart"), col("ch") * 128) - col("sstart")).cast("int").as("tok_from"),
          (least(col("send"), (col("ch") + 1) * 128) - col("sstart")).cast("int").as("tok_to"))
        .orderBy("source", "chunk_id", "doc_id")
    },

    // unigram-LM perplexity (CCNet-style quality signal): per-doc avg
    // negative log-likelihood under corpus token frequencies; ordered fold
    // per doc for cross-engine sum determinism (TEXT-ENTROPY recipe)
    "TEXT-PERPLEXITY" -> { s =>
      val toks = graft.core.Tables.spread(s.table("documents"), "doc_id")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("f"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val n = toks.agg(count(lit(1)).as("nt"))
      val terms = tf.join(broadcast(vocab), "tok").crossJoin(broadcast(n))
        .select(col("doc_id"), col("tok"), col("f"),
          (-log(col("c").cast("double") / col("nt")) * col("f")).as("nll"))
      terms.groupBy("doc_id")
        .agg(transform(array_sort(collect_list(struct(col("tok"), col("nll")))),
          st => st.getField("nll")).as("ks"), sum("f").as("ntok"))
        .select(col("doc_id"),
          round(aggregate(col("ks"), lit(0.0).cast("double"), (acc, x) => acc + x)
            / col("ntok"), 4).as("avg_nll"))
        .orderBy("doc_id").limit(60)
    },

    // 2-D Pareto frontier: the Skyline operator (partition-local dominance
    // prune, then a frontier-sized global pass — no quadratic self-join)
    "AGG-SKYLINE" -> { s =>
      graft.operators.Skyline.pareto2d(
          s.table("part").select(col("p_retailprice").as("price"), col("p_size").as("size")),
          "price", "size")
        .select(round(col("price"), 2).as("price"), col("size"))
        .orderBy("price")
    },

    // type-2 dimension history from the event change log: the generic SCD2
    // operator (LWW per tick, no-op collapse, validity intervals)
    "DIM-SCD2" -> { s =>
      val log = s.table("events").where(col("user_id") < 30)
        .select(col("user_id"), col("ts").cast("long").as("et"), col("event_id"),
          floor(col("value") / 100).cast("int").as("state"))
      graft.operators.Cdc.scd2(log, "user_id", "et", "event_id", Seq("state"))
        .withColumnRenamed("et", "valid_from")
        .orderBy("user_id", "valid_from")
    },

    // BM25 ranking via the TextAnalysis operator (shared explode, broadcast
    // df + corpus stats; rank on the rounded score)
    "TEXT-BM25" -> { s =>
      TextAnalysis.bm25(graft.core.Tables.spread(s.table("documents"), "doc_id"),
          "doc_id", "text", Seq("join", "vector", "slow"))
        .select(col("doc_id"), (round(col("bm25"), 4) + 0.0).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(15)
    },

    // hot-key diagnostics via Quality.skewReport (bounded-heap top-k —
    // no global sort of the key counts)
    "DQ-SKEW" -> (s =>
      graft.operators.Quality.skewReport(s.table("lineitem"), "l_suppkey")),

    // interval overlap via the grid operator: ≤2 cells per interval,
    // canonical-cell exactly-once, key-equality join — never the theta
    // pair blow-up of the contract SQL
    "JOIN-INTERVAL-OVERLAP" -> { s =>
      val e = s.table("events").select(col("event_id"), col("user_id"),
        col("event_type"), col("ts").cast("long").as("et"))
      val a = e.where(col("event_type") === "purchase" && col("user_id") < 30)
        .select(col("event_id").as("a_id"), col("et").as("al"),
          (col("et") + 600).as("ah"))
      val b = e.where(col("event_type") === "click" && col("user_id") < 30)
        .select(col("et").as("bl"), (col("et") + 900).as("bh"))
      graft.operators.RangeJoin.intervalOverlap(a, "al", "ah", b, "bl", "bh")
        .groupBy("a_id").agg(count(lit(1)).as("n_overlap"))
        .orderBy("a_id").limit(500)
    },

    // fact-to-SCD2 point-in-time lookup: the Cdc.scd2 history joined on
    // the dimension key with the validity band as residual
    "JOIN-SCD2-LOOKUP" -> { s =>
      val ev = s.table("events").select(col("event_id"), col("user_id"),
        col("event_type"), col("ts").cast("long").as("et"), col("value"))
      val log = ev.where(col("user_id") < 30)
        .select(col("user_id"), col("et"), col("event_id"),
          floor(col("value") / 100).cast("int").as("state"))
      val hist = graft.operators.Cdc.scd2(log, "user_id", "et", "event_id", Seq("state"))
        .select(col("user_id").as("h_uid"), col("valid_from").as("vf"),
          col("valid_to").as("vt"), col("state"))
      val facts = ev.where(col("event_type") === "purchase" && col("user_id") < 30)
        .select(col("event_id"), col("user_id"), col("et"))
      facts.join(hist, col("h_uid") === col("user_id")
          && col("vf") <= col("et") && (col("vt").isNull || col("et") < col("vt")))
        .select(col("event_id"), col("user_id"), col("state"))
        .orderBy("event_id").limit(400)
    },

    // distributed BPE merge training via the iterative operator (the SQL
    // twin unrolls the same three rounds)
    "LLM-BPE-TRAIN" -> (s =>
      TextAnalysis.bpeMerges(
        graft.core.Tables.spread(s.table("documents"), "doc_id"),
        "text", merges = 3).orderBy("r")),

    // PMI collocations: one token-array frame feeds unigram and adjacent-
    // bigram counts; totals broadcast as 1-row frames; DOUBLE-cast ratios
    "TEXT-PMI" -> { s =>
      val toks = graft.core.Tables.spread(s.table("documents"), "doc_id")
        .select(split(col("text"), " ").as("t"))
      val utok = toks.select(explode(col("t")).as("tok"))
      // both count models are vocabulary-bounded — materialize each once so
      // the totals and the two broadcast joins reuse them instead of
      // re-exploding the corpus per consumer (4 explode passes → 2)
      val bg = toks
        .select(explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
        .select(element_at(col("t"), col("i")).as("t1"),
          element_at(col("t"), col("i") + 1).as("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("cb"))
        .localCheckpoint()
      val uni = utok.groupBy("tok").agg(count(lit(1)).as("c")).localCheckpoint()
      val n1 = uni.agg(sum("c").cast("long").as("n"))
      val n2 = bg.agg(sum("cb").cast("long").as("nb"))
      bg.join(broadcast(uni.select(col("tok").as("k1"), col("c").as("c1"))),
          col("t1") === col("k1"))
        .join(broadcast(uni.select(col("tok").as("k2"), col("c").as("c2"))),
          col("t2") === col("k2"))
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .where(col("cb") >= 20)
        .select(col("t1"), col("t2"), col("cb"),
          round(log((col("cb").cast("double") / col("nb"))
            / ((col("c1").cast("double") / col("n"))
              * (col("c2").cast("double") / col("n")))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("t1"), col("t2")).limit(40)
    },

    // per-column profiling via the one-pass Quality operator (the SQL twin
    // is the cols×-scans UNION contract)
    "DQ-PROFILE" -> { s =>
      graft.operators.Quality.profile(s.table("orders"),
        Seq("o_custkey", "o_totalprice"), Seq("o_orderstatus", "o_orderpriority"))
    },

    // constraint validation report via the Quality checks API (Deequ-style
    // rule constructors): pk unique / fk orphan / range / null / enum —
    // each one aggregate or anti join, unioned
    "DQ-CHECK" -> { s =>
      import graft.operators.Quality
      val o = s.table("orders")
      Quality.report(Seq(
        Quality.unique("pk_unique_orders", o, Seq("o_orderkey")),
        Quality.fkExists("fk_lineitem_orders",
          s.table("lineitem"), "l_orderkey", o, "o_orderkey"),
        Quality.satisfies("range_totalprice_pos", o, col("o_totalprice") > 0),
        Quality.notNull("nonnull_custkey", o, "o_custkey"),
        Quality.inSet("enum_orderstatus", o, "o_orderstatus", Seq("F", "O", "P"))))
    },

  )

  def apply(id: String, spark: SparkSession): DataFrame = impls(id)(spark)
}
