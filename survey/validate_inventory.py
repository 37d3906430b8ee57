#!/usr/bin/env python3
"""Scratch validator: run candidate SURVEY §2 inventory queries on BOTH
DuckDB and Spark SQL over /root/testdata/sf0.001 and hash-compare results.
Not engine code — survey de-risking only."""
import duckdb, hashlib, os, sys, traceback

SF = os.environ.get("SF", "sf0.001")
DIR = f"/root/testdata/{SF}"
TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

# ---------- canonicalization ----------
def canon(rows):
    out = []
    for r in rows:
        cells = []
        for v in r:
            if v is None:
                cells.append("NULL")
            elif isinstance(v, bool):
                cells.append("true" if v else "false")
            elif isinstance(v, float):
                cells.append(f"{v:.4f}")
            elif isinstance(v, (list, tuple)):
                cells.append("[" + ",".join(f"{x:.4f}" if isinstance(x,float) else str(x) for x in v) + "]")
            else:
                cells.append(str(v))
        out.append("|".join(cells))
    return hashlib.sha256("\n".join(out).encode()).hexdigest()[:16], out

# ---------- engines ----------
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t}_raw AS SELECT * FROM read_parquet('{DIR}/{t}.parquet')")
    if t == "events":
        # normalize ns -> us so both engines agree exactly
        con.execute("""CREATE VIEW events AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
                       user_id, event_type, value, props FROM events_raw""")
    else:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {t}_raw")

from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.session.timeZone","UTC")
         .config("spark.ui.enabled","false")
         .config("spark.sql.legacy.parquet.nanosAsLong","true")
         .config("spark.sql.shuffle.partitions","4")
         .getOrCreate())
for t in TABLES:
    raw = spark.read.parquet(f"{DIR}/{t}.parquet")
    raw.createOrReplaceTempView(t + "_raw")
    if t == "events":
        # same normalization as graft.core.Tables: timestamp[ns] surfaces as
        # BIGINT nanos, timestamp[us] as TIMESTAMP_NTZ
        ts = ("timestamp_micros(CAST(ts DIV 1000 AS LONG))"
              if raw.schema["ts"].dataType.typeName() == "long" else "CAST(ts AS TIMESTAMP)")
        spark.sql(f"""CREATE OR REPLACE TEMP VIEW events AS
            SELECT event_id, {ts} AS ts,
                   user_id, event_type, value, props FROM events_raw""")
    else:
        spark.sql(f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * FROM {t}_raw")

# ---------- inventory: (id, spark_sql, duckdb_sql or None if identical) ----------
Q = []
def q(qid, spark_sql, duck_sql=None):
    Q.append((qid, spark_sql, duck_sql or spark_sql))

q("SCAN-COUNT", "SELECT count(*) FROM lineitem")

q("PROJ-EXPR", """SELECT l_orderkey, l_linenumber,
  round(l_extendedprice * (1 - l_discount), 2) AS net
FROM lineitem ORDER BY l_orderkey, l_linenumber, net LIMIT 50""")

q("FILTER-PRED", """SELECT o_orderkey FROM orders
WHERE o_orderstatus IN ('F','O') AND o_totalprice BETWEEN 1000 AND 50000
  AND o_orderpriority LIKE '1-%' AND NOT (o_custkey = 7)
ORDER BY o_orderkey LIMIT 50""")

q("JOIN-INNER-EQUI", """SELECT r_name, n_name, count(*) AS c
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name""")

q("JOIN-LEFT-OUTER", """SELECT c_custkey, count(o_orderkey) AS n_orders,
  coalesce(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2), 0.0) AS spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey ORDER BY c_custkey LIMIT 60""")

q("JOIN-FULL-OUTER", """SELECT coalesce(a.k, b.k) AS k, a.nc, b.ns FROM
 (SELECT c_nationkey AS k, count(*) AS nc FROM customer GROUP BY c_nationkey) a
 FULL OUTER JOIN
 (SELECT s_nationkey AS k, count(*) AS ns FROM supplier GROUP BY s_nationkey) b
 ON a.k = b.k ORDER BY k""")

q("JOIN-SEMI", """SELECT c_custkey FROM customer
LEFT SEMI JOIN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000) o
  ON c_custkey = o_custkey
ORDER BY c_custkey""",
"""SELECT c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
ORDER BY c_custkey""")

q("JOIN-ANTI", """SELECT c_custkey FROM customer LEFT ANTI JOIN orders ON c_custkey = o_custkey
ORDER BY c_custkey""",
"""SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey""")

q("JOIN-RANGE", """SELECT o.o_orderkey, count(*) AS n
FROM orders o JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <  o.o_orderdate + INTERVAL '60' DAY
GROUP BY o.o_orderkey ORDER BY o.o_orderkey LIMIT 50""",
"""SELECT o.o_orderkey, count(*) AS n
FROM orders o JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <  o.o_orderdate + INTERVAL 60 DAY
GROUP BY o.o_orderkey ORDER BY o.o_orderkey LIMIT 50""")

q("JOIN-ASOF", """WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id, max(CAST(c.ts AS BIGINT)) AS last_click_epoch
FROM purchases p LEFT JOIN clicks c
  ON c.user_id = p.user_id AND c.ts <= p.ts
GROUP BY p.event_id ORDER BY p.event_id LIMIT 80""",
"""WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id, max(CAST(floor(epoch(c.ts)) AS BIGINT)) AS last_click_epoch
FROM purchases p LEFT JOIN clicks c
  ON c.user_id = p.user_id AND c.ts <= p.ts
GROUP BY p.event_id ORDER BY p.event_id LIMIT 80""")

q("AGG-TPCH-Q1", """SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base,
  round(CAST(avg(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE), 4) AS avg_disc,
  count(*) AS cnt
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""")

q("AGG-DISTINCT", """SELECT event_type, count(*) AS u FROM
  (SELECT DISTINCT event_type, user_id FROM events WHERE user_id IS NOT NULL) t
GROUP BY event_type ORDER BY event_type""",
"""SELECT event_type, count(DISTINCT user_id) AS u
FROM events GROUP BY event_type ORDER BY event_type""")

q("AGG-ROLLUP", """SELECT r_name, n_name, count(*) AS c
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")

q("AGG-CUBE", """SELECT c_mktsegment, n_name, count(*) AS c
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (c_mktsegment, n_name)
ORDER BY c_mktsegment NULLS FIRST, n_name NULLS FIRST""")

q("AGG-GROUPING-SETS", """SELECT c_mktsegment, n_name, count(*) AS c
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((c_mktsegment), (n_name))
ORDER BY c_mktsegment NULLS FIRST, n_name NULLS FIRST""")

q("AGG-STATS", """SELECT event_type,
  round(CAST(stddev_samp(value) AS DOUBLE), 3) AS sd,
  round(CAST(var_samp(value) AS DOUBLE), 3) AS vr,
  round(min(value), 2) AS mn, round(max(value), 2) AS mx
FROM events GROUP BY event_type ORDER BY event_type""")

q("WIN-RANK", """SELECT user_id, event_id,
  row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk
FROM events WHERE user_id < 5
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, rn LIMIT 80""")

q("WIN-LAG-LEAD", """SELECT event_id,
  lag(event_id) OVER w AS prev_id, lead(event_id) OVER w AS next_id
FROM events WHERE user_id = 3
WINDOW w AS (ORDER BY ts, event_id) ORDER BY event_id""")

q("WIN-FRAME-ROWS", """SELECT event_id,
  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
FROM events WHERE user_id < 3 ORDER BY event_id LIMIT 80""")

q("WIN-FRAME-RANGE", """SELECT o_orderkey,
  count(*) OVER (ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        RANGE BETWEEN 100000 PRECEDING AND CURRENT ROW) AS near_cnt
FROM orders ORDER BY o_orderkey LIMIT 60""",
"""SELECT o_orderkey,
  count(*) OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2))
        RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS near_cnt
FROM orders ORDER BY o_orderkey LIMIT 60""")

q("WIN-NTILE", """SELECT o_orderkey, ntile(4) OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey) AS q
FROM orders ORDER BY o_orderkey LIMIT 60""")

q("SORT-TOPK", """SELECT o_orderkey, round(o_totalprice, 2) AS p FROM
  (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10) t""",
"""SELECT o_orderkey, round(o_totalprice,2) AS p FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")

q("SET-UNION", """SELECT k FROM (
  SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey AS k FROM supplier
) ORDER BY k""",
"""SELECT k FROM (
  SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey AS k FROM supplier
) t ORDER BY k""")

q("SET-UNION-ALL", """SELECT count(*) FROM (
  SELECT c_nationkey FROM customer UNION ALL SELECT s_nationkey FROM supplier) t""")

q("SET-INTERSECT", """SELECT c_nationkey AS k FROM customer
INTERSECT SELECT s_nationkey AS k FROM supplier ORDER BY k""",
"""SELECT c_nationkey AS k FROM customer
INTERSECT SELECT s_nationkey FROM supplier ORDER BY k""")

q("SET-EXCEPT", """SELECT c_nationkey AS k FROM customer
EXCEPT SELECT s_nationkey AS k FROM supplier ORDER BY k""",
"""SELECT c_nationkey AS k FROM customer
EXCEPT SELECT s_nationkey FROM supplier ORDER BY k""")

q("FN-STRING", """SELECT p_partkey, upper(p_brand) AS ub, lower(p_type) AS lt,
  substr(p_name, 1, 8) AS s8, length(p_name) AS ln,
  replace(p_brand, '#', '-') AS rp, trim(concat(' ', p_name, ' ')) AS tc,
  lpad(CAST(p_size AS STRING), 4, '0') AS pad
FROM part ORDER BY p_partkey LIMIT 40""",
"""SELECT p_partkey, upper(p_brand) AS ub, lower(p_type) AS lt,
  substr(p_name, 1, 8) AS s8, length(p_name) AS ln,
  replace(p_brand, '#', '-') AS rp, trim(concat(' ', p_name, ' ')) AS tc,
  lpad(CAST(p_size AS VARCHAR), 4, '0') AS pad
FROM part ORDER BY p_partkey LIMIT 40""")

q("FN-REGEX", """SELECT p_partkey FROM part WHERE p_type RLIKE '^(STANDARD|SMALL)'
ORDER BY p_partkey LIMIT 40""",
"""SELECT p_partkey FROM part WHERE regexp_matches(p_type, '^(STANDARD|SMALL)')
ORDER BY p_partkey LIMIT 40""")

q("FN-DATE", """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
  day(o_orderdate) AS d, CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart
FROM orders ORDER BY o_orderkey LIMIT 40""",
"""SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
  day(o_orderdate) AS d, CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart
FROM orders ORDER BY o_orderkey LIMIT 40""")

q("FN-MATH", """SELECT l_orderkey, l_linenumber,
  abs(l_discount - 0.05) AS a,
  CAST(floor(l_extendedprice) AS BIGINT) AS f, CAST(ceiling(l_extendedprice) AS BIGINT) AS c,
  round(sqrt(l_quantity), 4) AS sq, round(ln(l_extendedprice), 4) AS lg,
  round(power(l_tax + 1, 2), 4) AS pw, CAST(l_partkey % 7 AS BIGINT) AS md
FROM lineitem ORDER BY l_orderkey, l_linenumber, f, md LIMIT 40""")

q("FN-ARRAY", """SELECT vec_id, size(embedding) AS dim,
  round(CAST(embedding[0] AS DOUBLE), 4) AS e0
FROM embeddings ORDER BY vec_id LIMIT 40""",
"""SELECT vec_id, len(embedding) AS dim,
  round(CAST(embedding[1] AS DOUBLE), 4) AS e0
FROM embeddings ORDER BY vec_id LIMIT 40""")

q("FN-JSON", """SELECT event_id, CAST(get_json_object(props, '$.k') AS BIGINT) AS k
FROM events ORDER BY event_id LIMIT 60""",
"""SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
FROM events ORDER BY event_id LIMIT 60""")

q("STREAM-TUMBLE", """SELECT CAST(floor(CAST(ts AS DOUBLE) / 21600) * 21600 AS BIGINT) AS bucket,
  event_type, count(*) AS c,
  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
FROM events GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 100""",
"""SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket,
  event_type, count(*) AS c,
  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
FROM events GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 100""")

q("STREAM-SLIDE", """WITH shifts AS (SELECT 0 AS s UNION ALL SELECT 10800),
b AS (SELECT CAST(floor((CAST(ts AS DOUBLE) - s) / 21600) * 21600 + s AS BIGINT) AS wstart, value
      FROM events CROSS JOIN shifts)
SELECT wstart, count(*) AS c FROM b GROUP BY wstart ORDER BY wstart LIMIT 100""",
"""WITH shifts AS (SELECT 0 AS s UNION ALL SELECT 10800),
b AS (SELECT CAST(floor((epoch(ts) - s) / 21600) * 21600 + s AS BIGINT) AS wstart, value
      FROM events CROSS JOIN shifts)
SELECT wstart, count(*) AS c FROM b GROUP BY wstart ORDER BY wstart LIMIT 100""")

q("STREAM-SESSION", """WITH g AS (
  SELECT user_id, ts,
    CASE WHEN CAST(ts AS DOUBLE) - CAST(lag(ts) OVER w AS DOUBLE) > 1800
         OR lag(ts) OVER w IS NULL
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id ORDER BY user_id""",
"""WITH g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_s
  FROM events),
s AS (SELECT user_id, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM g)
SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id ORDER BY user_id""")

q("LLM-COSINE-TOPK", """WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
  round(
    aggregate(zip_with(e.embedding, probe.p, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)
    / (sqrt(aggregate(e.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
     * sqrt(aggregate(probe.p, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 3) AS cos
FROM embeddings e CROSS JOIN probe
WHERE e.vec_id <> 0
ORDER BY cos DESC, e.vec_id LIMIT 5""",
"""WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
  round(CAST(list_cosine_similarity(e.embedding, probe.p) AS DOUBLE), 3) AS cos
FROM embeddings e CROSS JOIN probe
WHERE e.vec_id <> 0
ORDER BY cos DESC, e.vec_id LIMIT 5""")

q("LLM-DEDUP", """SELECT count(*) AS docs, count(DISTINCT md5(lower(text))) AS uniq
FROM documents""")

q("LLM-TOKENIZE", """SELECT doc_id, size(split(text, ' ')) AS n_tokens
FROM documents ORDER BY doc_id LIMIT 50""",
"""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
FROM documents ORDER BY doc_id LIMIT 50""")

q("PARSE-DECONSTRUCT", """SELECT t.metric, CAST(t.v AS DOUBLE) AS value, CAST(t.e AS BIGINT) AS epoch
FROM (
  SELECT split(line, ' ')[0] AS metric, split(line, ' ')[1] AS v, split(line, ' ')[2] AS e
  FROM (SELECT concat('svc.', event_type, '.count ', CAST(round(value,2) AS STRING), ' ',
               CAST(CAST(ts AS DECIMAL(20,0)) AS STRING)) AS line FROM events) raw
) t ORDER BY epoch, metric LIMIT 50""",
"""SELECT t.metric, CAST(t.v AS DOUBLE) AS value, CAST(t.e AS BIGINT) AS epoch
FROM (
  SELECT string_split(line, ' ')[1] AS metric, string_split(line, ' ')[2] AS v, string_split(line, ' ')[3] AS e
  FROM (SELECT concat('svc.', event_type, '.count ', CAST(round(value,2) AS VARCHAR), ' ',
               CAST(CAST(epoch(ts) AS BIGINT) AS VARCHAR)) AS line FROM events) raw
) t ORDER BY epoch, metric LIMIT 50""")

# ---------- run ----------
fails = []
for qid, ss, ds in Q:
    try:
        drows = con.execute(ds).fetchall()
        dh, dtxt = canon(drows)
    except Exception as ex:
        fails.append((qid, "duckdb", str(ex).splitlines()[0])); continue
    try:
        srows = [tuple(r) for r in spark.sql(ss).collect()]
        sh, stxt = canon(srows)
    except Exception as ex:
        fails.append((qid, "spark", str(ex).splitlines()[0][:200])); continue
    status = "OK " if sh == dh else "MISMATCH"
    print(f"{status} {qid:22s} duck={dh} spark={sh} rows={len(drows)}/{len(srows)}")
    if sh != dh:
        for a, b in list(zip(dtxt, stxt))[:6]:
            if a != b: print(f"   duck : {a}\n   spark: {b}")
        if len(dtxt) != len(stxt): print(f"   rowcount differs {len(dtxt)} vs {len(stxt)}")
        fails.append((qid, "mismatch", ""))
print("\nFAILURES:", len(fails))
for f in fails: print("  ", f)
