"""Driver-harness query battery (SURVEY.md §5.2.4, FIXTURES.md §2).

Every SQL-expressible operator family from SURVEY.md §2 plus the
training-data-pipeline ops (dedup family, similarity search, text analysis)
gets one ``REGISTRY`` entry: its Spark side, its DuckDB oracle and a
one-line description. Design rules that make the driver's
order-insensitive value-hash comparison deterministic:

- shared ANSI SQL text between Spark and DuckDB wherever dialects agree
  (one string, zero drift); dialect-split only where needed (noted)
- money/double aggregations use the integer-cents pattern
  ``SUM(CAST(ROUND(x*100) AS BIGINT))/100.0`` — bit-exact on both engines
  (double sums are order-dependent; integer sums are not)
- float vector math is written as the identical sequential fold on both
  engines (index-based products, left-to-right sum), then rounded
- every computed column is aliased identically on both sides
- portable 60-bit token hash ``TOKHASH(x) = int(md5(x)[:15], 16)``:
  Spark ``conv(substr(md5(x),1,15),16,10)``, DuckDB ``('0x'||…)::BIGINT``
  — the same trick that makes MinHash/SimHash SQL-checkable
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# ---------------------------------------------------------------------------
# dialect helpers
# ---------------------------------------------------------------------------

def _tokhash(engine: str, x: str) -> str:
    if engine == "spark":
        return f"cast(conv(substr(md5({x}),1,15),16,10) as bigint)"
    return f"('0x'||substr(md5({x}),1,15))::BIGINT"


def _micros(engine: str, x: str) -> str:
    # parquet µs timestamps surface as TIMESTAMP_NTZ in Spark 4; cast to TZ
    # (session TZ pinned UTC) matches DuckDB's naive epoch_us exactly
    if engine == "spark":
        return f"unix_micros(CAST({x} AS TIMESTAMP))"
    return f"epoch_us({x})"


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the battery tables as temp views over ``sf_dir``.

    Memoized per (session, sf_dir): a full registration costs ~1 s warm
    (10 parquet schema reads through the driver), and every battery entry
    calls this — unmemoized it was over half the 44-query suite wall
    (~0.9 s × 44 ≈ 40 s, measured at sf0.1). The memo lives as an
    attribute ON the session object (dies with it, no id()-reuse hazard)
    and re-registers whenever the sf_dir changes or any view is missing
    from the catalog (the existence sweep costs ~0.09 s). A caller that
    swaps in its own view must DROP it afterwards to invalidate the memo:
    a view replaced in place (createOrReplaceTempView) still exists, so
    later battery entries would silently read the replacement."""
    if getattr(spark, "_sparkcrawl_views_dir", None) == sf_dir and all(
        spark.catalog.tableExists(t) for t in TABLES
    ):
        return
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    spark._sparkcrawl_views_dir = sf_dir


# Persisted intermediates of the DataFrame-twin queries (banded sketches,
# shingle sets, component frontiers). They must stay cached until the
# harness materializes the returned DataFrame, so each twin RELEASES the
# previous twin's cache at its own start instead of unpersisting eagerly —
# executor storage is bounded by one query's working set across the bench's
# headline-suite loop (ADVICE r2).
_TRACKED_CACHE: list[DataFrame] = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    df.persist()
    _TRACKED_CACHE.append(df)
    return df


def release_cached() -> None:
    """Unpersist every intermediate cached by prior DataFrame-twin queries
    (safe once their results are materialized; recompute-on-demand covers
    stragglers)."""
    while _TRACKED_CACHE:
        _TRACKED_CACHE.pop().unpersist()


# ---------------------------------------------------------------------------
# shared-SQL query definitions: name → SQL builder(engine) -> str
# engine ∈ {"spark", "duckdb"}; identical output schema required
# ---------------------------------------------------------------------------

def _q_seen_antijoin(engine: str) -> str:
    # D2 dedup-against-seen as an anti-join (NOT EXISTS) over events.
    # The subquery carries a value threshold so a nontrivial user subset
    # survives at every scale factor: with the bare event_type predicate
    # every user has a purchase and BOTH engines return 0 rows — a vacuous
    # pass that exercises nothing (VERDICT r3 #3).
    return """
      SELECT e.user_id AS user_id, COUNT(*) AS n_events
      FROM events e
      WHERE NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase' AND p.value > 90
          AND p.user_id = e.user_id)
      GROUP BY e.user_id
    """


def _q_perhost_topk(engine: str) -> str:
    # P3 per-host budget window as per-user top-k (priority DESC, seq ASC)
    return """
      SELECT user_id, event_id, value, rk FROM (
        SELECT user_id, event_id, value,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY user_id ORDER BY value DESC, event_id ASC
               ) AS INT) AS rk
        FROM events) t
      WHERE rk <= 3
    """


def _q_priority_order(engine: str) -> str:
    # P1/O1 priority-queue pop order with deterministic tie-break
    return """
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM orders
      ORDER BY o_orderpriority ASC, o_orderdate ASC, o_orderkey ASC
      LIMIT 100
    """


def _q_depth_histogram(engine: str) -> str:
    # A2 depth histogram analogue
    return """
      SELECT l_linenumber AS depth, COUNT(*) AS n
      FROM lineitem GROUP BY l_linenumber
    """


def _q_status_counts(engine: str) -> str:
    # A1 counter stats with exact integer-cents sums
    return """
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type
    """


def _q_broadcast_join(engine: str) -> str:
    # S5/R-style small-dim broadcast join
    return """
      SELECT r.r_name AS region_name, COUNT(*) AS n_nations
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name
    """


def _q_json_extract(engine: str) -> str:
    if engine == "spark":
        k = "CAST(get_json_object(props, '$.k') AS INT)"
    else:
        k = "CAST(json_extract_string(props, '$.k') AS INT)"
    return f"""
      SELECT {k} AS k, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    """


def _q_window_hourly(engine: str) -> str:
    # tumbling event-time window aggregation (§2.10 analytics surface)
    return """
      SELECT date_trunc('hour', ts) AS hour, event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    """


def _q_sessionize(engine: str) -> str:
    us = _micros(engine, "ts")
    prev = _micros(engine, "prev_ts")
    return f"""
      SELECT user_id, CAST(SUM(new_sess) + 1 AS INT) AS n_sessions
      FROM (
        SELECT user_id,
               CASE WHEN prev_ts IS NULL THEN 0
                    WHEN {us} - {prev} > 1800000000 THEN 1 ELSE 0 END AS new_sess
        FROM (
          SELECT user_id, ts,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          FROM events) a
      ) b GROUP BY user_id
    """


def _q_union_distinct(engine: str) -> str:
    # O5 union across rounds analogue
    return """
      SELECT user_id FROM events WHERE event_type = 'click'
      UNION
      SELECT user_id FROM events WHERE event_type = 'view'
    """


def _q_intersect_users(engine: str) -> str:
    # O6 semi-join / intersect diagnostics
    return """
      SELECT user_id FROM events WHERE event_type = 'error'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'click'
    """


def _q_tpch_q1(engine: str) -> str:
    return """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
               / CAST(100.0 AS DOUBLE) AS sum_disc_price,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
    """


def _q_tpch_q3(engine: str) -> str:
    return """
      SELECT o.o_orderkey, o.o_orderdate,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE)
               / CAST(100.0 AS DOUBLE) AS revenue
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY o.o_orderkey, o.o_orderdate
      ORDER BY revenue DESC, o_orderkey ASC
      LIMIT 10
    """


def _q_tpch_q5(engine: str) -> str:
    return """
      SELECT n.n_name AS nation_name,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE)
               / CAST(100.0 AS DOUBLE) AS revenue
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
      GROUP BY n.n_name
    """


def _q_tpch_q4(engine: str) -> str:
    # TPC-H Q4 shape (EXISTS decorrelation → semi join); predicate adapted
    # to the available columns (no l_commitdate in this dataset): an order
    # counts when some line item shipped after the order date
    return """
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders o
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-07-01'
        AND EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate)
      GROUP BY o_orderpriority
    """


def _q_tpch_q6(engine: str) -> str:
    # TPC-H Q6: scan-heavy filtered aggregate (predicate-pushdown showcase)
    return """
      SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT))
                  AS DOUBLE) / CAST(100.0 AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24
    """


def _q_tpch_q7(engine: str) -> str:
    # TPC-H Q7 shape: shipping volume between two nations by year (a nation
    # table joined twice under different roles — supplier side vs customer
    # side); YEAR() result cast to INT on both engines (DuckDB's is BIGINT)
    return """
      SELECT supp_nation, cust_nation, l_year,
             CAST(SUM(CAST(ROUND(volume * 100) AS BIGINT)) AS DOUBLE)
               / CAST(100.0 AS DOUBLE) AS revenue
      FROM (
        SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               CAST(YEAR(l.l_shipdate) AS INT) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        WHERE ns.n_name IN ('NATION_1', 'NATION_2')
          AND nc.n_name IN ('NATION_1', 'NATION_2')
          AND ns.n_name <> nc.n_name) t
      GROUP BY supp_nation, cust_nation, l_year
    """


def _q_tpch_q10(engine: str) -> str:
    # TPC-H Q10: returned-item revenue per customer, top 20 (join + agg +
    # deterministic top-k)
    return """
      SELECT c_custkey, c_name, n_name, revenue FROM (
        SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
               n.n_name AS n_name,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS DOUBLE)
                 / CAST(100.0 AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-04-01'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name) t
      ORDER BY revenue DESC, c_custkey ASC
      LIMIT 20
    """


def _q_tpch_q14(engine: str) -> str:
    # TPC-H Q14: promo revenue share (conditional aggregate over a join)
    return """
      SELECT ROUND(
        CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                 THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                 ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
               AS DOUBLE) * 100, 6) AS promo_pct
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        AND l_shipdate < TIMESTAMP '1996-10-01'
    """


def _q_tpch_q18(engine: str) -> str:
    # TPC-H Q18: large-volume orders (group-filter on an aggregate)
    return """
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             total_qty
      FROM (
        SELECT c.c_name AS c_name, c.c_custkey AS c_custkey,
               o.o_orderkey AS o_orderkey, o.o_orderdate AS o_orderdate,
               o.o_totalprice AS o_totalprice,
               CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT)
                 AS total_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                 o.o_totalprice) t
      WHERE total_qty > 150
    """


def _q_tpch_q2(engine: str) -> str:
    # TPC-H Q2 shape: correlated scalar-MIN subquery picking the cheapest
    # candidate within a group. No partsupp table in this dataset, so the
    # min-cost-supplier-per-part becomes min-retailprice-part-per-type;
    # the decorrelation the optimizer must perform is identical.
    return """
      SELECT p.p_partkey, p.p_name, p.p_type, p.p_retailprice
      FROM part p
      WHERE p.p_size = 15
        AND p.p_retailprice = (
          SELECT MIN(p2.p_retailprice) FROM part p2
          WHERE p2.p_type = p.p_type AND p2.p_size = 15)
    """


def _q_tpch_q8(engine: str) -> str:
    # TPC-H Q8: national market share — 8-table join, nation joined twice,
    # conditional share ratio per year (exact integer-cents numerator and
    # denominator, ratio rounded once)
    return """
      SELECT l_year,
             ROUND(CAST(SUM(CASE WHEN nat = 'NATION_3' THEN cents ELSE 0 END)
                        AS DOUBLE)
                   / CAST(SUM(cents) AS DOUBLE), 6) AS mkt_share
      FROM (
        SELECT CAST(YEAR(o.o_orderdate) AS INT) AS l_year,
               ns.n_name AS nat,
               CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS cents
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        JOIN region r ON nc.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01') t
      GROUP BY l_year
    """


def _q_tpch_q9(engine: str) -> str:
    # TPC-H Q9: product-type profit by nation and year. No ps_supplycost in
    # this dataset — p_retailprice*l_quantity stands in for the cost leg;
    # both legs cent-rounded separately (the established exact pattern).
    return """
      SELECT nation_name, o_year,
             CAST(SUM(profit_cents) AS DOUBLE) / 100.0 AS sum_profit
      FROM (
        SELECT ns.n_name AS nation_name,
               CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
               CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)
                 - CAST(ROUND(p.p_retailprice * l.l_quantity * 100)
                        AS BIGINT) AS profit_cents
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        WHERE p.p_name LIKE '%red%') t
      GROUP BY nation_name, o_year
    """


def _q_tpch_q11(engine: str) -> str:
    # TPC-H Q11 shape: per-group value filtered against a scalar fraction of
    # the global total (scalar subquery over the same derived table). The
    # threshold comparison is done in DOUBLE on exact integer-cent sums —
    # CAST(double AS BIGINT) rounds in DuckDB but truncates in Spark, so the
    # cast is deliberately avoided.
    return """
      WITH pv AS (
        SELECT l.l_partkey AS l_partkey,
               SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS val_cents
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY l.l_partkey)
      SELECT l_partkey, CAST(val_cents AS DOUBLE) / 100.0 AS part_value
      FROM pv
      WHERE CAST(val_cents AS DOUBLE) >
            (SELECT CAST(SUM(val_cents) AS DOUBLE) * 0.001 FROM pv)
    """


def _q_tpch_q12(engine: str) -> str:
    # TPC-H Q12 shape: priority-class conditional counts over a join with a
    # ship-lag predicate. No l_shipmode/commitdate — l_returnflag buckets and
    # a shipdate-minus-orderdate window (exact integer µs) stand in.
    lag = f"{_micros(engine, 'l.l_shipdate')} - {_micros(engine, 'o.o_orderdate')}"
    return f"""
      SELECT l.l_returnflag AS l_returnflag,
             CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE {lag} BETWEEN 0 AND 2592000000000
      GROUP BY l.l_returnflag
    """


def _q_tpch_q13(engine: str) -> str:
    # TPC-H Q13: distribution of orders per customer — LEFT OUTER join with a
    # join-side filter, then a group-of-groups
    return """
      SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      FROM (
        SELECT c.c_custkey AS c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey) t
      GROUP BY c_count
    """


def _q_tpch_q15(engine: str) -> str:
    # TPC-H Q15: top supplier by quarter revenue — revenue CTE reused twice,
    # scalar MAX subquery; the max comparison runs on exact integer cents
    return """
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS total_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s.s_suppkey, s.s_name,
             CAST(r.total_cents AS DOUBLE) / 100.0 AS total_revenue
      FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
      WHERE r.total_cents = (SELECT MAX(total_cents) FROM revenue)
    """


def _q_tpch_q16(engine: str) -> str:
    # TPC-H Q16 shape: distinct-supplier counts per part group with a NOT IN
    # anti-subquery (partsupp replaced by the lineitem part↔supplier relation)
    return """
      SELECT p.p_brand AS p_brand, p.p_type AS p_type, p.p_size AS p_size,
             CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
      FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
      WHERE p.p_brand <> 'Brand#3'
        AND p.p_type NOT LIKE 'PROMO%'
        AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        AND l.l_suppkey NOT IN
            (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      GROUP BY p.p_brand, p.p_type, p.p_size
    """


def _q_tpch_q17(engine: str) -> str:
    # TPC-H Q17: small-quantity-order revenue — correlated scalar AVG
    # subquery per part (decorrelates to an aggregate + re-join). l_quantity
    # is integer-valued, so AVG is an exact-sum/count on both engines.
    return """
      SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 700.0 AS avg_yearly
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#5'
        AND l.l_quantity < (
          SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey)
    """


def _q_tpch_q19(engine: str) -> str:
    # TPC-H Q19: disjunctive OR-of-ANDs predicate across a join — exercises
    # predicate normalization: the shared p_partkey = l_partkey conjunct must
    # still drive a hash join, with the disjunction applied as a post-filter
    return """
      SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                           AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
             AND l.l_quantity BETWEEN 1 AND 11)
         OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 10
             AND l.l_quantity BETWEEN 10 AND 20)
         OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 20 AND 30)
    """


def _q_tpch_q20(engine: str) -> str:
    # TPC-H Q20 shape: nested IN-subqueries (semi-join chain) with a HAVING
    # threshold on an exact integer-valued quantity sum
    return """
      SELECT s.s_suppkey, s.s_name
      FROM supplier s
      WHERE s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        WHERE l.l_partkey IN
              (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l.l_suppkey
        HAVING SUM(l.l_quantity) > 100.0)
    """


def _q_tpch_q21(engine: str) -> str:
    # TPC-H Q21 shape: EXISTS + NOT EXISTS double correlation — suppliers
    # whose line item was the strictly-latest ship in a multi-supplier order
    # (receipt/commit dates absent; shipdate ordering stands in)
    return """
      SELECT s.s_name AS s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM supplier s
      JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders o ON o.o_orderkey = l1.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l1.l_shipdate > o.o_orderdate
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > l1.l_shipdate)
      GROUP BY s.s_name
    """


def _q_tpch_q22(engine: str) -> str:
    # TPC-H Q22 shape: substring bucketing + scalar-AVG threshold + NOT
    # EXISTS anti-join. c_name's trailing digit stands in for the phone
    # country code; every synthetic customer has orders, so "no orders at
    # all" would be empty — "no URGENT order" keeps the identical correlated
    # anti-join shape non-degenerate. The AVG threshold compares exact
    # integer cents so the boundary cannot drift between engines.
    return """
      SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
             CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS totacctbal
      FROM (
        SELECT substr(c.c_name, 18, 1) AS cntrycode, c.c_acctbal AS c_acctbal
        FROM customer c
        WHERE substr(c.c_name, 18, 1) IN ('1', '3', '5', '7')
          AND CAST(ROUND(c.c_acctbal * 100) AS BIGINT) > (
            SELECT AVG(CAST(ROUND(c2.c_acctbal * 100) AS BIGINT))
            FROM customer c2 WHERE c2.c_acctbal > 0.0)
          AND NOT EXISTS
              (SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey
                 AND o.o_orderpriority = '1-URGENT')) t
      GROUP BY cntrycode
    """


def _q_dedup_exact(engine: str) -> str:
    # exact (hash-groupBy) dedup: content hash → representative + dup count
    return """
      SELECT md5(text) AS content_hash,
             MIN(doc_id) AS representative,
             COUNT(*) AS n_dups
      FROM documents GROUP BY md5(text)
    """


def _q_token_stats(engine: str) -> str:
    # token counting: whitespace tokens + BPE-ish regex tokens
    if engine == "spark":
        ws = "size(split(text, ' '))"
        bpe = "size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"
    else:
        ws = "len(string_split(text, ' '))"
        bpe = "len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))"
    return f"""
      SELECT doc_id, CAST({ws} AS INT) AS ws_tokens, CAST({bpe} AS INT) AS bpe_tokens
      FROM documents
    """


def _q_langid(engine: str) -> str:
    # language-ID heuristic: English stopword ratio over whitespace tokens
    if engine == "spark":
        toks = "split(text, ' ')"
        nstop = "size(filter(" + toks + ", t -> t IN ('the','a','of','and','in')))"
        ntok = f"size({toks})"
    else:
        toks = "string_split(text, ' ')"
        nstop = "len(list_filter(" + toks + ", t -> t IN ('the','a','of','and','in')))"
        ntok = f"len({toks})"
    return f"""
      SELECT doc_id,
             ROUND(CAST({nstop} AS DOUBLE) / CAST({ntok} AS DOUBLE), 6) AS stopword_ratio,
             CASE WHEN CAST({nstop} AS DOUBLE) / CAST({ntok} AS DOUBLE) > 0.05
                  THEN 'en' ELSE 'other' END AS pred_lang
      FROM documents
    """


def _q_quality_score(engine: str) -> str:
    # quality scoring: length/token features + rational score (no libm calls
    # → bit-exact across engines)
    ntok = (
        "size(split(text, ' '))" if engine == "spark" else "len(string_split(text, ' '))"
    )
    return f"""
      SELECT doc_id,
             CAST({ntok} AS INT) AS n_tokens,
             CAST(length(text) AS INT) AS n_chars_measured,
             ROUND(CAST({ntok} AS DOUBLE) / (CAST({ntok} AS DOUBLE) + 50.0), 6) AS quality
      FROM documents
    """


def _q_doc_fingerprint(engine: str) -> str:
    # document fingerprinting: hash of the 8 smallest distinct tokens
    if engine == "spark":
        expr = (
            "md5(array_join(slice(array_sort(array_distinct(split(text,' '))),1,8),' '))"
        )
    else:
        expr = "md5(array_to_string(list_sort(list_distinct(string_split(text,' ')))[1:8],' '))"
    return f"SELECT doc_id, {expr} AS fp FROM documents"


def _q_stratified_sample(engine: str) -> str:
    # deterministic hash-based stratified sampling (training-data pipeline):
    # TOKHASH(doc_id) % 10 picks a reproducible ~10% of every stratum with no
    # shuffle, no RNG state, and no driver coordination — the sampling
    # decision is a pure function of the row, so it distributes perfectly
    # and re-runs identically at any cluster size
    h = _tokhash(engine, "CAST(doc_id AS STRING)")
    return f"""
      SELECT doc_id, lang, source
      FROM documents
      WHERE {h} % 10 = 0
    """


def _q_repetition_ratio(engine: str) -> str:
    # Gopher-style repetition quality signal: fraction of duplicate word-3-gram
    # shingles per document (1 - distinct/total); highly repetitive docs are
    # low-quality training data. Linear per-doc scan, no shuffle.
    sh = _shingles(engine)
    if engine == "spark":
        dis, tot = f"size(array_distinct({sh}))", f"size({sh})"
    else:
        dis, tot = f"len(list_distinct({sh}))", f"len({sh})"
    return f"""
      SELECT doc_id,
             ROUND(1.0 - CAST({dis} AS DOUBLE) / CAST({tot} AS DOUBLE), 6)
               AS repetition_ratio
      FROM documents
      WHERE length(text) - length(replace(text, ' ', '')) >= 2
    """


def _q_gopher_rules(engine: str) -> str:
    # Gopher document-quality rules (Rae et al. 2021, "Scaling Language
    # Models: Methods, Analysis & Insights from Training Gopher", App. A1.1
    # — reimplemented from the published rule list), token-granular variant:
    # per-document quality signals + one composite keep/drop verdict, the
    # filter every Gopher/MassiveText-descended pipeline runs before
    # training. Signals:
    #   n_words        — word count (published rule: 50..100k; pinned at
    #                    >=30 for this corpus's 10..99-word documents)
    #   mean_word_len  — published bounds [3, 10] verbatim
    #   stop_hits      — distinct hits from the published 8-stopword list
    #                    ("the","a","and","of","to","in","is","that");
    #                    published rule >=2, pinned verbatim
    #   top_token_frac — fraction of tokens taken by the most frequent
    #                    token (the top-n-gram concentration family;
    #                    published 2-gram threshold 0.20, applied here at
    #                    token granularity)
    #   dup_3gram_frac — duplicate word-3-gram fraction (same expression
    #                    the standalone repetition_ratio entry pins;
    #                    published duplicate-n-gram family, 0.30)
    # All five are live expressions on both engines; on this synthetic
    # corpus mean_word_len and dup_3gram_frac never trip (measured 3.7-5.3
    # and <=0.072 at the test SFs) while the other three split the corpus
    # (~300/500 kept) — on real web text all five bite. Scale shape: ONE
    # linear map-only pass over text, no shuffle, no join — the verdict is
    # a pure function of the row, so the filter distributes perfectly and
    # rides the same scan as any other per-doc projection. kept compares
    # the ROUNDED signal columns, so both engines decide boundaries on
    # identical doubles.
    sh = _shingles(engine)
    stopw = "'the','a','and','of','to','in','is','that'"
    if engine == "spark":
        n = "size(split(text, ' '))"
        dis, tot = f"size(array_distinct({sh}))", f"size({sh})"
        stop = (
            "size(array_intersect(array_distinct(split(text, ' ')), "
            f"array({stopw})))"
        )
        # bind the split array once (the split-in-lambda O(tokens²) lesson);
        # per-distinct-token occurrence count, max over the doc
        top = (
            "element_at(transform(array(split(text, ' ')), w -> "
            "array_max(transform(array_distinct(w), "
            "t -> size(filter(w, x -> x = t))))), 1)"
        )
    else:
        n = "len(string_split(text, ' '))"
        dis, tot = f"len(list_distinct({sh}))", f"len({sh})"
        stop = (
            "len(list_intersect(list_distinct(string_split(text, ' ')), "
            f"[{stopw}]))"
        )
        top = (
            "list_transform([string_split(text, ' ')], w -> "
            "list_max(list_transform(list_distinct(w), "
            "t -> len(list_filter(w, x -> x = t)))))[1]"
        )
    # The WHERE keeps documents of 3+ tokens (the 3-gram signal needs one),
    # so shorter documents get NO verdict row on either engine — not a
    # kept=false row. A consumer wanting a full verdict table must treat a
    # missing doc_id as dropped.
    return f"""
      SELECT doc_id, n_words, mean_word_len, stop_hits, top_token_frac,
             dup_3gram_frac,
             (n_words >= 30 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
              AND stop_hits >= 2 AND top_token_frac <= 0.2
              AND dup_3gram_frac <= 0.3) AS kept
      FROM (
        SELECT doc_id,
               CAST({n} AS INT) AS n_words,
               ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                     / CAST({n} AS DOUBLE), 6) AS mean_word_len,
               CAST({stop} AS INT) AS stop_hits,
               ROUND(CAST({top} AS DOUBLE) / CAST({n} AS DOUBLE), 6)
                 AS top_token_frac,
               ROUND(1.0 - CAST({dis} AS DOUBLE) / CAST({tot} AS DOUBLE), 6)
                 AS dup_3gram_frac
        FROM documents
        WHERE length(text) - length(replace(text, ' ', '')) >= 2) s
    """


def _q_top_terms(engine: str) -> str:
    # corpus vocabulary head: distributed wordcount with a deterministic
    # top-k tie-break (count DESC, term ASC) — the canonical map-side-combine
    # aggregation; at 100 TB this is one partial-agg shuffle of the tiny
    # (term, count) space, never of the text
    if engine == "spark":
        ex = "SELECT explode(split(text, ' ')) AS term FROM documents"
    else:
        ex = "SELECT unnest(string_split(text, ' ')) AS term FROM documents"
    return f"""
      SELECT term, CAST(COUNT(*) AS BIGINT) AS n
      FROM ({ex}) t
      GROUP BY term
      ORDER BY n DESC, term ASC
      LIMIT 50
    """


def _q_length_percentiles(engine: str) -> str:
    # per-stratum exact length percentiles (corpus profiling before filter
    # thresholds are chosen). Exact linear-interpolated percentile over
    # integers — Spark percentile() and DuckDB quantile_cont() compute the
    # same formula, so the doubles agree bit-for-bit; rounded anyway.
    fn = "percentile" if engine == "spark" else "quantile_cont"
    return f"""
      SELECT lang,
             ROUND({fn}(n_chars, 0.5), 6) AS p50_chars,
             ROUND({fn}(n_chars, 0.9), 6) AS p90_chars,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents
      GROUP BY lang
    """


def _q_boilerplate_ngrams(engine: str) -> str:
    # Boilerplate detection (CCNet/RefinedWeb-style): word-2-gram shingles
    # present in the most documents are template/boilerplate candidates
    # stripped before training. One explode of DISTINCT-per-doc shingles +
    # one partial-agg shuffle of the tiny (shingle, count) space — the text
    # itself never shuffles; top-k with a total-order tie-break (count DESC,
    # shingle ASC) keeps the result deterministic and bounded at any scale.
    # split bound once via the array-wrap (see _shingles) — a bare split in
    # the index lambda re-evaluates per bigram position, O(tokens²)/doc
    if engine == "spark":
        bg = (
            "flatten(transform(array(split(text,' ')), w -> "
            "transform(sequence(1, size(w) - 1), "
            "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1)))))"
        )
        ex = f"SELECT doc_id, explode(array_distinct({bg})) AS shingle FROM documents"
    else:
        bg = (
            "flatten(list_transform([string_split(text,' ')], w -> "
            "list_transform(generate_series(1, len(w) - 1), "
            "i -> w[i] || ' ' || w[i+1])))"
        )
        ex = f"SELECT doc_id, unnest(list_distinct({bg})) AS shingle FROM documents"
    # ≥2-token guard (≥1 space): Spark's sequence(1, 0) DESCENDS instead of
    # being empty, so a 1-token doc would hit element_at(…, 0) and crash the
    # whole query (the minhash/paragraph-chunk footgun)
    ex += " WHERE length(text) - length(replace(text, ' ', '')) >= 1"
    return f"""
      SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM ({ex}) t
      GROUP BY shingle
      ORDER BY n_docs DESC, shingle ASC
      LIMIT 50
    """


def _paragraph_chunks_ex(engine: str) -> str:
    """The (doc_id, chunk) explode subquery shared by the SQL text and the
    Spark DataFrame twin (which computes it ONCE and persists — see
    _paragraph_dedup_spark)."""
    # split bound once via the array-wrap (see _shingles) — a bare split in
    # the index lambda re-evaluates per chunk position, O(tokens²/10)/doc
    if engine == "spark":
        chunks = (
            "flatten(transform(array(split(text,' ')), w -> "
            "transform(sequence(1, size(w) DIV 10), "
            "i -> concat_ws(' ', slice(w, (i-1)*10 + 1, 10)))))"
        )
        # ≥10-word guard: Spark's sequence(1, 0) DESCENDS instead of being
        # empty (same footgun as the minhash shingle guard)
        ex = (
            f"SELECT doc_id, explode({chunks}) AS chunk FROM documents "
            "WHERE size(split(text,' ')) >= 10"
        )
    else:
        chunks = (
            "flatten(list_transform([string_split(text,' ')], w -> "
            "list_transform(generate_series(1, len(w) // 10), "
            "i -> array_to_string(w[(i-1)*10 + 1 : (i-1)*10 + 10], ' '))))"
        )
        ex = (
            f"SELECT doc_id, unnest({chunks}) AS chunk FROM documents "
            "WHERE len(string_split(text,' ')) >= 10"
        )
    return ex


def _q_paragraph_dedup(engine: str) -> str:
    # Sub-document exact dedup (C4/CCNet strip repeated lines; Dolma dedups
    # paragraphs by hash): the synthetic corpus is a flat word stream, so the
    # "paragraph" unit is the non-overlapping 10-word chunk. Every chunk's
    # document frequency is one partial-agg shuffle of (chunk, doc_id); the
    # join back is an equi-join on the chunk string (at scale: on its 60-bit
    # TOKHASH) — full text never shuffles, and per-doc output is the dedup
    # manifest a cleaning pass would apply (chunks to drop + tokens saved).
    # Verified non-vacuous: ~110 cross-doc shared chunks at sf0.001/sf0.01.
    # The Spark side runs as a DataFrame twin (chunk set computed once,
    # persisted) — this SQL text is the DuckDB oracle and the semantics pin.
    ex = _paragraph_chunks_ex(engine)
    return f"""
      WITH ch AS ({ex}),
      freq AS (
        SELECT chunk, COUNT(DISTINCT doc_id) AS docfreq
        FROM ch GROUP BY chunk)
      SELECT c.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(CASE WHEN f.docfreq > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_chunks,
             CAST(SUM(CASE WHEN f.docfreq > 1 THEN 10 ELSE 0 END) AS BIGINT)
               AS dup_tokens
      FROM ch c JOIN freq f ON c.chunk = f.chunk
      GROUP BY c.doc_id
      HAVING SUM(CASE WHEN f.docfreq > 1 THEN 1 ELSE 0 END) > 0
    """


def _q_contamination(engine: str) -> str:
    # Benchmark-contamination check (training-data hygiene): a deterministic
    # ~1% of documents (doc_id % 100 = 0) stands in for the held-out eval
    # set; every other document reports how many of its DISTINCT word-3-gram
    # shingles appear anywhere in that set. The benchmark shingle set is
    # tiny → Spark broadcasts it into the scan stage (one-sided join, no
    # shuffle of the corpus shingles); at 100 TB the eval set is still KBs.
    sh = _shingles(engine)
    if engine == "spark":
        ex = f"SELECT doc_id, explode(array_distinct({sh})) AS s FROM documents"
    else:
        ex = f"SELECT doc_id, unnest(list_distinct({sh})) AS s FROM documents"
    # ≥3-token guard (≥2 spaces): without it a short doc makes Spark's
    # sequence(1, n) descend into element_at(…, 0) and crash (the minhash
    # footgun); a shingle-less doc contributes no rows on either engine
    ex += " WHERE length(text) - length(replace(text, ' ', '')) >= 2"
    return f"""
      WITH sh AS ({ex}),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0)
      SELECT d.doc_id,
             CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overlap,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             ROUND(CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS contamination
      FROM sh d LEFT JOIN bench b ON d.s = b.s
      WHERE d.doc_id % 100 <> 0
      GROUP BY d.doc_id
    """


def _q_tfidf_top_terms(engine: str) -> str:
    # Per-document top-3 salient terms by TF·IDF with a BM25-style rational
    # idf (N - df + 0.5)/(df + 0.5) — no log(), so the doubles are the same
    # IEEE ops on both engines. Two partial-agg shuffles over the small
    # (doc, term) / (term) key spaces + one broadcastable df join; the
    # per-doc ROW_NUMBER window re-exchanges on doc_id, but over the
    # already-aggregated (doc, term, tf) rows — orders of magnitude lighter
    # than the token explode, which never shuffles.
    if engine == "spark":
        ex = "SELECT doc_id, explode(split(text, ' ')) AS term FROM documents"
    else:
        ex = "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents"
    return f"""
      WITH tok AS ({ex}),
      tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, term),
      df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, term FROM tok) u GROUP BY term),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
      SELECT doc_id, term, score, rk FROM (
        SELECT tf.doc_id, tf.term,
               ROUND(CAST(tf.tf AS DOUBLE)
                     * (CAST(n.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                     / (CAST(df.df AS DOUBLE) + 0.5), 6) AS score,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY tf.doc_id
                 ORDER BY CAST(tf.tf AS DOUBLE)
                          * (CAST(n.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                          / (CAST(df.df AS DOUBLE) + 0.5) DESC,
                          tf.term ASC) AS INT) AS rk
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n) ranked
      WHERE rk <= 3
    """


def _q_pack_sequences(engine: str) -> str:
    # Sequence packing for training (documents → fixed-token-budget bins):
    # a running token count per stratum (lang), ORDER BY doc_id for
    # determinism, assigns each document to bin floor((cumsum-1)/512); the
    # output is the per-bin manifest (doc count + token totals). The window
    # partitions by lang, so at 100 TB each stratum's prefix sum is one
    # shuffle partition's sequential pass — real pipelines pack per
    # partition/shard exactly like this rather than globally.
    ntok = (
        "size(split(text, ' '))" if engine == "spark"
        else "len(string_split(text, ' '))"
    )
    return f"""
      WITH toks AS (
        SELECT doc_id, lang, CAST({ntok} AS BIGINT) AS n_tok FROM documents),
      cum AS (
        SELECT doc_id, lang, n_tok,
               SUM(n_tok) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum_tok
        FROM toks)
      SELECT lang,
             CAST(FLOOR((cum_tok - 1) / 512) AS INT) AS seq_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM cum
      GROUP BY lang, CAST(FLOOR((cum_tok - 1) / 512) AS INT)
    """


def _q_lm_perplexity(engine: str) -> str:
    # CCNet-style quality signal [ccnet: cc_net/perplexity.py — public
    # method, reimplemented from the paper]: per-document perplexity under
    # a unigram LM trained on the corpus itself. Two passes over the text,
    # exactly like the real pipeline (pass 1 trains the LM = token counts;
    # pass 2 scores each document): mean negative log-likelihood
    # AVG(-ln(c/N)) and ppl = exp(nll). Low-ppl docs are templated/
    # repetitive, high-ppl docs are noise — the standard keep-the-middle
    # filter. Both engines evaluate ln/exp within 1-2 ulp and the agg sum
    # is ~1e-13 relative, so ROUND(…, 6) is bit-stable (verified exact at
    # sf0.001/0.01). At 100 TB the vocab table (cnt) is the only shuffled
    # aggregate; the score join is a hash join on token that AQE broadcasts
    # while the head vocab fits — the plain SQL below would re-explode the
    # text three times under Spark CTE inlining, so the Spark side runs the
    # DataFrame twin (_lm_perplexity_spark) with the vocab persisted once.
    if engine == "spark":
        ex = "SELECT doc_id, explode(split(text, ' ')) AS token FROM documents"
    else:
        ex = ("SELECT doc_id, unnest(string_split(text, ' ')) AS token "
              "FROM documents")
    return f"""
      WITH tok AS ({ex}),
      cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c
              FROM tok GROUP BY token),
      tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cnt)
      SELECT doc_id, n_tokens, ROUND(nll, 6) AS nll, ROUND(EXP(nll), 6) AS ppl
      FROM (
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               AVG(-LN(CAST(cnt.c AS DOUBLE) / tot.n)) AS nll
        FROM tok t JOIN cnt ON t.token = cnt.token CROSS JOIN tot
        GROUP BY t.doc_id) s
    """


def _q_dsir_weights(engine: str) -> str:
    # DSIR-style data selection (Xie et al. 2023, "Data Selection for
    # Language Models via Importance Resampling" — public method,
    # reimplemented from the paper): per-document importance weight
    # log(p_target(x) / p_background(x)) under add-one-smoothed unigram LMs,
    # target = the English slice, background = the whole corpus. Same
    # two-pass shape as lm_perplexity — pass 1 trains BOTH LMs in ONE
    # aggregation (c_all and the lang-gated c_tgt from the same groupBy),
    # pass 2 re-streams tokens through a hash join against the vocab.
    # Determinism: each token's log-ratio is quantized to integer micro-nats
    # (ROUND(lr * 1e6) as BIGINT) BEFORE the per-doc sum — BIGINT sums are
    # order-independent, so Spark ≡ DuckDB bit-exactly regardless of
    # partitioning (the pagerank fixed-point pattern; a double SUM would be
    # shuffle-order-dependent). At 100 TB the vocab aggregate is the only
    # shuffled sketch and the smoothing totals are one pre-aggregated row.
    if engine == "spark":
        ex = ("SELECT doc_id, lang, explode(split(text, ' ')) AS token "
              "FROM documents")
    else:
        ex = ("SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token "
              "FROM documents")
    lr = ("LN((CAST(c.c_tgt AS DOUBLE) + 1.0) / (tot.n_tgt + tot.v)) "
          "- LN((CAST(c.c_all AS DOUBLE) + 1.0) / (tot.n_all + tot.v))")
    return f"""
      WITH tok AS ({ex}),
      cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c_all,
                     CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          AS BIGINT) AS c_tgt
              FROM tok GROUP BY token),
      tot AS (SELECT CAST(SUM(c_all) AS DOUBLE) AS n_all,
                     CAST(SUM(c_tgt) AS DOUBLE) AS n_tgt,
                     CAST(COUNT(*) AS DOUBLE) AS v
              FROM cnt)
      SELECT doc_id, n_tokens, lr_micro,
             CAST(lr_micro AS DOUBLE) / 1000000.0 AS weight
      FROM (
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(ROUND(({lr}) * 1000000.0) AS BIGINT))
                    AS BIGINT) AS lr_micro
        FROM tok t JOIN cnt c ON t.token = c.token CROSS JOIN tot
        GROUP BY t.doc_id) s
    """


def _q_host_quality(engine: str) -> str:
    # Source/domain-level reputation filtering (the FineWeb/C4 pattern:
    # aggregate per-domain quality statistics, then keep or drop every
    # document by its domain's reputation rather than per-doc signals
    # alone). Two-level plan: one slim projection pass over the text
    # (token count only), a tiny per-source aggregate (#domains rows — KBs
    # even at 100 TB), and a join-back that Spark broadcasts. kept compares
    # the source's avg tokens/doc against the corpus-wide avg, so the flag
    # is data-driven and non-vacuous by construction (some sources above,
    # some below). All stats are single divisions of BIGINT sums —
    # deterministic IEEE ops, no accumulation-order sensitivity.
    ntok = (
        "size(split(text, ' '))" if engine == "spark"
        else "len(string_split(text, ' '))"
    )
    return f"""
      WITH doc AS (
        SELECT doc_id, source, CAST({ntok} AS BIGINT) AS n_tok
        FROM documents),
      src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS src_docs,
               CAST(SUM(n_tok) AS BIGINT) AS src_tok,
               CAST(SUM(CASE WHEN n_tok < 10 THEN 1 ELSE 0 END) AS BIGINT)
                 AS src_short
        FROM doc GROUP BY source),
      tot AS (
        SELECT CAST(SUM(src_tok) AS DOUBLE) / CAST(SUM(src_docs) AS DOUBLE)
          AS corpus_avg FROM src)
      SELECT d.doc_id, d.source,
             s.src_docs,
             ROUND(CAST(s.src_tok AS DOUBLE) / CAST(s.src_docs AS DOUBLE), 6)
               AS src_avg_tokens,
             ROUND(CAST(s.src_short AS DOUBLE) / CAST(s.src_docs AS DOUBLE), 6)
               AS src_short_frac,
             CAST(s.src_tok AS DOUBLE) / CAST(s.src_docs AS DOUBLE)
               >= tot.corpus_avg AS kept
      FROM doc d JOIN src s ON d.source = s.source CROSS JOIN tot
    """


def _q_filter_funnel(engine: str) -> str:
    # Data-hygiene retention funnel (the reporting shape FineWeb/RefinedWeb/
    # Dolma publish for their cleaning pipelines — public methodology,
    # reimplemented): documents surviving each CUMULATIVE filter stage
    # (all → lang-ID → length band → mean-word-length band → unique-token
    # ratio), with retention vs the corpus and vs the previous stage. One
    # text pass: all five stage counters come from ONE conditional
    # aggregation over one projection (no per-stage scans), the funnel
    # itself is a 1-row × 5-stage cross join — constant-size past the scan,
    # so the plan is a single map-side-combinable aggregate at any corpus
    # size. The stage-gate VALUES table keeps the 1-row aggregate referenced
    # ONCE (a UNION-ALL-per-stage form would let Spark's CTE inlining rerun
    # the scan per stage). Ratios are single IEEE divisions of BIGINT counts
    # + ROUND — no accumulation-order sensitivity; zero-doc corpora yield
    # NULL ratios on both engines via explicit guards. Thresholds verified
    # non-vacuous at both test SFs (every stage drops documents:
    # 500 → ~200 → ~140 → ~66 → 27).
    if engine == "spark":
        ntok = "size(split(text, ' '))"
        nuniq = "size(array_distinct(split(text, ' ')))"
    else:
        ntok = "len(string_split(text, ' '))"
        nuniq = "len(list_distinct(string_split(text, ' ')))"
    return f"""
      WITH doc AS (
        SELECT lang,
               CAST({ntok} AS BIGINT) AS n_tok,
               CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) AS n_alpha,
               CAST({nuniq} AS BIGINT) AS n_uniq
        FROM documents),
      f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s0,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN lang = 'en' AND n_tok BETWEEN 30 AND 90
                        THEN 1 ELSE 0 END) AS BIGINT) AS s2,
               CAST(SUM(CASE WHEN lang = 'en' AND n_tok BETWEEN 30 AND 90
                        AND n_alpha / n_tok <= 4.5
                        THEN 1 ELSE 0 END) AS BIGINT) AS s3,
               CAST(SUM(CASE WHEN lang = 'en' AND n_tok BETWEEN 30 AND 90
                        AND n_alpha / n_tok <= 4.5
                        AND CAST(n_uniq AS DOUBLE) / n_tok >= 0.45
                        THEN 1 ELSE 0 END) AS BIGINT) AS s4
        FROM doc)
      SELECT stage_no, stage, docs,
             CASE WHEN s0_docs = 0 THEN CAST(NULL AS DOUBLE)
                  ELSE ROUND(CAST(docs AS DOUBLE) / s0_docs, 6)
             END AS retained_vs_total,
             CASE WHEN prev = 0 THEN CAST(NULL AS DOUBLE)
                  ELSE ROUND(CAST(docs AS DOUBLE) / prev, 6)
             END AS retained_vs_prev
      FROM (
        SELECT s.stage_no,
               CASE s.stage_no WHEN 0 THEN 'total' WHEN 1 THEN 'lang_en'
                    WHEN 2 THEN 'length_band' WHEN 3 THEN 'word_shape'
                    ELSE 'uniq_tokens' END AS stage,
               CASE s.stage_no WHEN 0 THEN f.s0 WHEN 1 THEN f.s1
                    WHEN 2 THEN f.s2 WHEN 3 THEN f.s3 ELSE f.s4 END AS docs,
               CASE s.stage_no WHEN 0 THEN f.s0 WHEN 1 THEN f.s0
                    WHEN 2 THEN f.s1 WHEN 3 THEN f.s2 ELSE f.s3 END AS prev,
               f.s0 AS s0_docs
        FROM f CROSS JOIN (VALUES (0), (1), (2), (3), (4)) AS s(stage_no)
      ) x
    """


def _q_pagerank(engine: str) -> str:
    # Link-analysis centrality (PageRank, 5 unrolled iterations) over a
    # deterministic link graph on documents: doc d links to (d² + 1) % N,
    # d DIV 2, and (13d + 7) % N — fixed out-degree 3 but deliberately
    # irregular in-degree (the quadratic map collides, the halving map makes
    # low-id hubs — affine maps alone are permutations mod N and collapse to
    # the uniform fixpoint), so the
    # operator under test is the distributed rank propagation, not the edge
    # source (in the crawl the edge table is the extracted-links snapshot
    # joined exactly the same way). All arithmetic is integer micro-units
    # (rank0 = 1e6 per node; r' = 150000 + (850 * Σ(rank DIV 3)) DIV 1000,
    # i.e. damping 0.85 applied in fixed point): BIGINT sums are
    # order-independent, so Spark ≡ DuckDB bit-exactly — the same pattern as
    # the integer-cents money aggregations. At scale each iteration is one
    # equi-join of ranks against edges hash-partitioned on the join key plus
    # one partial-agg shuffle on dst; the unrolled-CTE plan keeps every
    # iteration inside one Catalyst plan (fixed iteration count — the
    # driver-loop variant for convergence-tested propagation is
    # dedup_components). Dangling mass is dropped deliberately: rank here
    # ORDERS survivors (canonical-doc selection), it is not a probability.
    if engine == "spark":
        def idiv(a: str, b: int) -> str:
            return f"({a}) DIV {b}"
    else:
        def idiv(a: str, b: int) -> str:
            return f"({a}) // {b}"
    iters = []
    prev = "r0"
    for k in range(1, 6):
        contrib = idiv("r.pr", 3)
        damped = idiv("850 * COALESCE(s.c, 0)", 1000)
        iters.append(f"""
      r{k} AS (
        SELECT d.doc_id, CAST(150000 + ({damped}) AS BIGINT) AS pr
        FROM docs d LEFT JOIN (
          SELECT e.dst AS doc_id, SUM({contrib}) AS c
          FROM edges e JOIN {prev} r ON r.doc_id = e.src
          GROUP BY e.dst) s ON s.doc_id = d.doc_id)""")
        prev = f"r{k}"
    return f"""
      WITH docs AS (SELECT doc_id FROM documents),
      nn AS (SELECT COUNT(*) AS n FROM documents),
      edges AS (
        SELECT doc_id AS src, (doc_id * doc_id + 1) % nn.n AS dst FROM docs, nn
        UNION ALL
        SELECT doc_id, {("doc_id DIV 2" if engine == "spark" else "doc_id // 2")} FROM docs, nn
        UNION ALL
        SELECT doc_id, (13 * doc_id + 7) % nn.n FROM docs, nn),
      r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM docs),{",".join(iters)}
      SELECT doc_id, pr AS pr_micro FROM r5
      ORDER BY pr DESC, doc_id ASC
      LIMIT 20
    """


def _shingles(engine: str) -> str:
    """Word-3-gram shingle array from text (1-based element access on both).

    The split array is bound ONCE via a one-element-array lambda wrap
    (`transform(array(split(text,' ')), w -> …)` + flatten): a bare
    `split(text,' ')` inside the index lambda is re-evaluated per gram
    position — O(tokens²) per document (measured 6.2 s → 0.8 s for the
    full sf0.1 shingle explode). Same wrap on the DuckDB side keeps the
    shared SQL text engine-portable and bit-identical (verified: zero
    mismatching rows against the unwrapped form on both engines)."""
    if engine == "spark":
        return (
            "flatten(transform(array(split(text,' ')), w -> "
            "transform(sequence(1, size(w) - 2), "
            "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1), "
            "element_at(w, i+2)))))"
        )
    return (
        "flatten(list_transform([string_split(text,' ')], w -> "
        "list_transform(generate_series(1, len(w) - 2), "
        "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))"
    )


_N_MINHASH = 8


def _q_minhash_signatures(engine: str) -> str:
    # MinHash over word-3-gram shingles, 8 portable hash functions
    sh = _shingles(engine)
    cols = []
    for i in range(_N_MINHASH):
        h = _tokhash(engine, f"'{i}:' || s")
        if engine == "spark":
            cols.append(f"array_min(transform(shingles, s -> {h})) AS sig{i}")
        else:
            cols.append(f"list_aggregate(list_transform(shingles, s -> {h}), 'min') AS sig{i}")
    # identical ≥3-token guard on both engines (a <3-token doc would make
    # Spark's sequence() descend instead of producing an empty shingle list)
    return f"""
      SELECT doc_id, {', '.join(cols)}
      FROM (SELECT doc_id, {sh} AS shingles FROM documents
            WHERE length(text) - length(replace(text, ' ', '')) >= 2) t
    """


def _q_minhash_lsh_pairs(engine: str) -> str:
    # LSH banding (2 bands × 4 rows) over the signatures → candidate pairs.
    # Per-band EQUI-joins (UNION dedups): each band hash-partitions on its
    # band hash and scales linearly in bucket occupancy. The round-1 OR-join
    # (`a.b0 = b.b0 OR a.b1 = b.b1`) forced a BroadcastNestedLoopJoin —
    # O(n²) comparisons, 13.3 s at sf0.1 — because a disjunction cannot
    # hash-partition.
    sig = _q_minhash_signatures(engine)
    return f"""
      WITH sigs AS ({sig}),
      banded AS (
        SELECT doc_id,
               md5(CAST(sig0 AS STRING)||','||CAST(sig1 AS STRING)||','||
                   CAST(sig2 AS STRING)||','||CAST(sig3 AS STRING)) AS b0,
               md5(CAST(sig4 AS STRING)||','||CAST(sig5 AS STRING)||','||
                   CAST(sig6 AS STRING)||','||CAST(sig7 AS STRING)) AS b1
        FROM sigs)
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.b0 = b.b0 AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
      ) u
    """


def _q_simhash(engine: str) -> str:
    # 16-bit SimHash from distinct-token hashes (bit-majority)
    tok = "split(text, ' ')" if engine == "spark" else "string_split(text, ' ')"
    dedup = f"array_distinct({tok})" if engine == "spark" else f"list_distinct({tok})"
    h = _tokhash(engine, "t")
    if engine == "spark":
        explode = f"SELECT doc_id, explode({dedup}) AS t FROM documents"
        bit = lambda b: f"shiftright(h, {b}) & 1"
    else:
        explode = f"SELECT doc_id, unnest({dedup}) AS t FROM documents"
        bit = lambda b: f"(h >> {b}) & 1"
    sums = ", ".join(
        f"SUM(CASE WHEN ({bit(b)}) = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(16)
    )
    assemble = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""
      WITH toks AS ({explode}),
      hashed AS (SELECT doc_id, {h} AS h FROM toks),
      bits AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
      SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM bits
    """


def _q_ngram_jaccard(engine: str) -> str:
    # n-gram Jaccard near-dup, LSH-candidate shape (the 100 TB path):
    # candidates come from MinHash banding (4 bands × 2 rows over the 8
    # signatures — every join an EQUI-join on a band hash), then exact
    # Jaccard is computed on candidate pairs ONLY. Round 1 compared all
    # pairs within (lang, source) blocks — correct but quadratic per block,
    # a scale-killer on a skewed block. Banding recall at the 0.6 threshold
    # is 1-(1-0.6²)⁴ ≈ 0.83 and →1 for truly-near duplicates (j ≥ 0.8:
    # 0.98); candidate volume is linear in band-bucket occupancy. Docs with
    # <3 tokens cannot shingle and are excluded (same guard as the
    # signatures query).
    sig = _q_minhash_signatures(engine)
    # exact-verify the SAME measure the sketch estimates: Jaccard over the
    # word-3-gram shingle sets (round 1 verified unigram Jaccard — a
    # different measure than the MinHash sketch, so banding couldn't gate it)
    sh = _shingles(engine)
    if engine == "spark":
        toks = f"array_distinct({sh})"
        inter = "size(array_intersect(a.toks, b.toks))"
        uni = "size(array_union(a.toks, b.toks))"
    else:
        toks = f"list_distinct({sh})"
        inter = "len(list_intersect(a.toks, b.toks))"
        uni = "len(list_distinct(list_concat(a.toks, b.toks)))"
    bands = {
        f"c{j}": f"md5(CAST(sig{2*j} AS STRING)||','||CAST(sig{2*j+1} AS STRING))"
        for j in range(4)
    }
    band_cols = ", ".join(f"{expr} AS {name}" for name, expr in bands.items())
    cand_union = "\n        UNION\n".join(
        f"        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b\n"
        f"        FROM banded x JOIN banded y ON x.c{j} = y.c{j} AND x.doc_id < y.doc_id"
        for j in range(4)
    )
    return f"""
      WITH sigs AS ({sig}),
      banded AS (SELECT doc_id, {band_cols} FROM sigs),
      cand AS (
{cand_union}
      ),
      d AS (SELECT doc_id, {toks} AS toks FROM documents
            WHERE length(text) - length(replace(text, ' ', '')) >= 2)
      SELECT c.doc_a AS doc_a, c.doc_b AS doc_b,
             ROUND(CAST({inter} AS DOUBLE) / CAST({uni} AS DOUBLE), 6) AS jaccard
      FROM cand c
      JOIN d a ON a.doc_id = c.doc_a
      JOIN d b ON b.doc_id = c.doc_b
      WHERE CAST({inter} AS DOUBLE) / CAST({uni} AS DOUBLE) >= 0.6
    """


def _cosine(engine: str, a: str, b: str) -> str:
    """Bit-exact cosine: index-based double products, sequential sum, shared
    formula shape on both engines (64-dim vectors)."""
    if engine == "spark":
        dot = (
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        na = (
            f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        nb = (
            f"aggregate(transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    else:
        dot = (
            f"list_aggregate(list_transform(generate_series(1, 64), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
        )
        na = (
            f"list_aggregate(list_transform(generate_series(1, 64), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), 'sum')"
        )
        nb = (
            f"list_aggregate(list_transform(generate_series(1, 64), "
            f"i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
        )
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def _q_ann_bruteforce(engine: str) -> str:
    # brute-force cosine top-k vs the vec_id=0 query vector (similarity search
    # baseline; the IVF variant below is the scale path)
    cos = _cosine(engine, "e.embedding", "q.embedding")
    return f"""
      WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, cos, rk FROM (
        SELECT e.vec_id AS vec_id,
               ROUND({cos}, 6) AS cos,
               CAST(ROW_NUMBER() OVER (ORDER BY ROUND({cos}, 6) DESC, e.vec_id ASC) AS INT) AS rk
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0) t
      WHERE rk <= 10
    """


def _q_ann_ivf(engine: str) -> str:
    # IVF-style ANN: probe only the query's coarse cell (label = centroid id)
    cos = _cosine(engine, "e.embedding", "q.embedding")
    return f"""
      WITH q AS (SELECT embedding, label FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, cos, rk FROM (
        SELECT e.vec_id AS vec_id,
               ROUND({cos}, 6) AS cos,
               CAST(ROW_NUMBER() OVER (ORDER BY ROUND({cos}, 6) DESC, e.vec_id ASC) AS INT) AS rk
        FROM embeddings e JOIN q ON e.label = q.label
        WHERE e.vec_id <> 0) t
      WHERE rk <= 10
    """


def _q_ann_ivf_multiprobe(engine: str) -> str:
    # IVF with nprobe=3: rank cells by exact squared distance from the query
    # to each cell centroid, probe the 3 nearest cells, cosine top-10 within
    # them. All centroid/distance arithmetic is integer-fixed-point so the
    # distributed sums are order-independent and bit-exact on both engines
    # (micro-resolution centroids, pico-resolution distances).
    if engine == "spark":
        expl = (
            "SELECT label, pos AS dim, CAST(val AS DOUBLE) AS val "
            "FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, val"
        )
        qexpl = (
            "SELECT pos AS dim, CAST(val AS DOUBLE) AS val "
            "FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) qq "
            "LATERAL VIEW posexplode(embedding) t AS pos, val"
        )
    else:
        expl = (
            "SELECT label, i-1 AS dim, CAST(embedding[i] AS DOUBLE) AS val "
            "FROM embeddings, generate_series(1, 64) g(i)"
        )
        qexpl = (
            "SELECT i-1 AS dim, CAST(embedding[i] AS DOUBLE) AS val "
            "FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) qq, "
            "generate_series(1, 64) g(i)"
        )
    cos = _cosine(engine, "e.embedding", "q.embedding")
    return f"""
      WITH ev AS ({expl}),
      cent AS (
        SELECT label, dim,
               CAST(SUM(CAST(ROUND(val * 1000000) AS BIGINT)) AS DOUBLE)
                 / CAST(1000000.0 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
        FROM ev GROUP BY label, dim),
      qv AS ({qexpl}),
      dist AS (
        SELECT cent.label,
               SUM(CAST(ROUND((qv.val - cent.c) * (qv.val - cent.c)
                              * 1000000000000) AS BIGINT)) AS d_fp
        FROM cent JOIN qv ON cent.dim = qv.dim
        GROUP BY cent.label),
      probe AS (
        SELECT label FROM (
          SELECT label, ROW_NUMBER() OVER (ORDER BY d_fp ASC, label ASC) AS rk
          FROM dist) t
        WHERE rk <= 3),
      q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, cos, rk FROM (
        SELECT e.vec_id AS vec_id, ROUND({cos}, 6) AS cos,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY ROUND({cos}, 6) DESC, e.vec_id ASC) AS INT) AS rk
        FROM embeddings e
        JOIN probe p ON e.label = p.label
        CROSS JOIN q
        WHERE e.vec_id <> 0) t
      WHERE rk <= 10
    """


_HP_BANDS = 8       # LSH bands over the hyperplane sketch
_HP_BITS = 4        # bits (hyperplanes) per band — the bucket-occupancy knob
_EMB_DIM = 64


def _hp_weights() -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix (_HP_BANDS×_HP_BITS rows ×
    _EMB_DIM cols) from md5 — no runtime randomness, identical literals land
    in both engines' SQL."""
    import hashlib

    rows = []
    for k in range(_HP_BANDS * _HP_BITS):
        row = []
        for i in range(_EMB_DIM):
            h = hashlib.md5(f"hp:{k}:{i}".encode()).digest()
            row.append(1.0 if h[0] % 2 == 0 else -1.0)
        rows.append(row)
    return rows


def _q_embed_neardup(engine: str) -> str:
    # Embedding-cosine near-dup, signed-random-projection LSH shape (the
    # 100 TB path): a 32-bit hyperplane sketch per vector, banded 8×4; every
    # candidate join is an EQUI-join on (band value), exact cosine runs on
    # candidate pairs ONLY. Round 1 compared all pairs within label blocks —
    # correct but quadratic per block (skewed label = scale-killer).
    # Recall = 1-(1-p^4)^8 with p = 1-θ/π: ≈0.66 at the corpus-forced 0.30
    # threshold (synthetic isotropic vectors have no true near-dups, max
    # pairwise cos ≈ 0.51), ≥0.99 at production near-dup thresholds
    # (cos ≥ 0.85). Widen _HP_BITS as corpus size grows to hold bucket
    # occupancy (and thus candidate volume) sub-quadratic.
    # Sketch computation is engine-split on FORM, identical on ARITHMETIC:
    # DuckDB evaluates the literal weight sums as a left fold over dims;
    # Spark computes the same sums in a vectorized pandas UDF whose numpy
    # accumulation loops over dims in the same order (elementwise adds are
    # IEEE-exact, so the fold is bit-identical). A literal-SQL sketch on the
    # Spark side was correct too but compiled 2048 terms into a ~6.5 MiB
    # task binary and ~9 s of plan/codegen time. ROUND(…, 6) before the sign
    # is insurance against a last-ulp divergence.
    if engine == "spark":
        band_cols = ", ".join(f"bands[{j}] AS b{j}" for j in range(_HP_BANDS))
        sk_cte = (
            "sk0 AS (SELECT vec_id, hp_bands(embedding) AS bands FROM embeddings),\n"
            f"      sk AS (SELECT vec_id, {band_cols} FROM sk0)"
        )
    else:
        W = _hp_weights()

        def bit(k: int) -> str:
            terms = " + ".join(
                f"({W[k][i]:+.1f})*CAST(embedding[{i + 1}] AS DOUBLE)"
                for i in range(_EMB_DIM)
            )
            return f"(CASE WHEN ROUND({terms}, 6) > 0 THEN 1 ELSE 0 END)"

        band_cols = ", ".join(
            "CAST("
            + " + ".join(f"{bit(j * _HP_BITS + r)}*{1 << r}" for r in range(_HP_BITS))
            + f" AS BIGINT) AS b{j}"
            for j in range(_HP_BANDS)
        )
        sk_cte = f"sk AS (SELECT vec_id, {band_cols} FROM embeddings)"
    cand_union = "\n        UNION\n".join(
        f"        SELECT x.vec_id AS vec_a, y.vec_id AS vec_b\n"
        f"        FROM sk x JOIN sk y ON x.b{j} = y.b{j} AND x.vec_id < y.vec_id"
        for j in range(_HP_BANDS)
    )
    cos = _cosine(engine, "a.embedding", "b.embedding")
    return f"""
      WITH {sk_cte},
      cand AS (
{cand_union}
      )
      SELECT c.vec_a AS vec_a, c.vec_b AS vec_b,
             ROUND({cos}, 6) AS cos
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.vec_a
      JOIN embeddings b ON b.vec_id = c.vec_b
      WHERE ROUND({cos}, 6) >= 0.30
    """


def _q_embed_norms(engine: str) -> str:
    # array ops: L2 norm per vector, averaged per label (integer-millis exact)
    if engine == "spark":
        ss = (
            "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    else:
        ss = (
            "list_aggregate(list_transform(generate_series(1, 64), "
            "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum')"
        )
    return f"""
      SELECT label,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(sqrt({ss}) * 1000) AS BIGINT)) AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS sum_norm
      FROM embeddings GROUP BY label
    """


def _q_event_pivot(engine: str) -> str:
    # pivot-style conditional aggregation per user
    # CAST(SUM(..) AS BIGINT): DuckDB's integer SUM returns HUGEINT
    # (decimal128 via Arrow) while Spark returns bigint — identical values,
    # different hashed representation without the cast (round-1 hash fail)
    cases = ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
        for t in ("click", "view", "purchase", "error", "signup")
    )
    return f"SELECT user_id, {cases} FROM events GROUP BY user_id"


def _q_multimodal_bytes(engine: str) -> str:
    # multimodal plumbing: byte-size accounting of an opaque payload column
    nb = "octet_length(text)" if engine == "spark" else "strlen(text)"
    # outer CAST: DuckDB SUM(BIGINT) re-widens to HUGEINT (round-1 hash fail)
    return f"""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(CAST({nb} AS BIGINT)) AS BIGINT) AS total_bytes
      FROM documents GROUP BY lang
    """


def _q_rolling_avg(engine: str) -> str:
    # A3/P4 latency-EWMA relational twin: per-key rolling mean over the last
    # 6 rows (ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) — integer-cents sums
    # keep the window value order-independent and bit-exact on both engines
    return """
      SELECT user_id, event_id,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS DOUBLE)
               / CAST(100.0 AS DOUBLE)
               / CAST(COUNT(*) OVER w AS DOUBLE) AS rolling_avg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    """


def _q_link_filter(engine: str) -> str:
    # F4 allow/deny regex + deny_extensions as a relational filter: build
    # urls with a deterministic extension mix, keep only allow-matching,
    # non-denied, non-media urls (same regex semantics as
    # CrawlConfig.link_filter_reason / frontier.links_to_candidates)
    if engine == "spark":
        # Spark SQL string literals eat single backslashes ('\.' → '.'), so
        # double them to keep the regex the engine runs identical to the
        # oracle's (ADVICE r2: a url ending 'xzip' would otherwise diverge)
        rx = lambda col, pat: f"{col} rlike '" + pat.replace("\\", "\\\\") + "'"
    else:
        rx = lambda col, pat: f"regexp_matches({col}, '{pat}')"
    ext = (
        "CASE WHEN doc_id % 7 = 0 THEN '.jpg' WHEN doc_id % 7 = 1 THEN '.pdf' "
        "WHEN doc_id % 7 = 2 THEN '.zip' WHEN doc_id % 7 = 3 THEN '.php' "
        "ELSE '.html' END"
    )
    allow = rx("url", r"/f[0-9]+\.")
    deny_ext = rx("url", r"\.(jpg|pdf|zip|7z|mp4)$")
    deny_rx = rx("url", r"\.php$")
    return f"""
      SELECT doc_id, url FROM (
        SELECT doc_id,
               'http://ex.com/' || source || '/f' || CAST(doc_id AS STRING)
                 || {ext} AS url
        FROM documents) t
      WHERE {allow}
        AND NOT {deny_ext}
        AND NOT {deny_rx}
    """


# Crawl-kernel canonicalization: Spark runs the real pandas UDF over a
# constructed messy URL (_canonicalize_spark); DuckDB states the expected
# canonical form directly (string algebra — the pinned canon of this
# constrained input).
_CANONICALIZE_ORACLE = """
      SELECT doc_id,
             'http://ex.com/docs/' || source || '?Id=' || CAST(doc_id AS STRING)
               || '&a=1&b=2' AS canon_url
      FROM documents
    """


# ---------------------------------------------------------------------------
# round 4g: webtext-hygiene additions — PII redaction, exact-substring span
# dedup (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
# Better"), deterministic training-shard assignment, and SemDeDup-style
# cluster-then-cosine dedup (Abbas et al. 2023)
# ---------------------------------------------------------------------------

# Regexes restricted to the Java-regex ∩ RE2 ∩ SQL-literal-safe subset: no
# backslash classes (\d, \b) — Spark SQL string literals eat backslashes that
# DuckDB keeps, so character classes are spelled out (same pin as F4's
# Java∩Python regex rule, config.py).
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_PHONE = "[+][0-9]{2}-[0-9]{3}-[0-9]{4}"
_PII_IP = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"


def _regex_count(engine: str, x: str, rx: str) -> str:
    if engine == "spark":
        return f"size(regexp_extract_all({x}, '{rx}', 0))"
    return f"len(regexp_extract_all({x}, '{rx}'))"


def _regex_sub_all(engine: str, x: str, rx: str, rep: str) -> str:
    # Spark's regexp_replace is replace-ALL by default; DuckDB needs 'g'
    if engine == "spark":
        return f"regexp_replace({x}, '{rx}', '{rep}')"
    return f"regexp_replace({x}, '{rx}', '{rep}', 'g')"


def _q_pii_redact(engine: str) -> str:
    """PII detection + redaction (emails, phone numbers, IPv4) — the
    CCNet/Dolma-style scrub pass every production webtext pipeline runs.
    The synthetic documents carry no PII, so the query deterministically
    plants doc_id-derived PII on a doc_id-modulus subset FIRST (same
    synthesize-from-the-row pattern as pagerank's edges) — the redaction
    counts are nontrivial and vary per row, so the engine comparison is
    non-vacuous (the seen_antijoin lesson, VERDICT r3 wrong #1). Counts are
    taken on the progressively-redacted text (emails → phones → IPs) so no
    span is double-counted. One linear text pass, no shuffle until the
    driver's own collect — embarrassingly parallel at any corpus size."""
    c_em = _regex_count(engine, "txt", _PII_EMAIL)
    r_em = _regex_sub_all(engine, "txt", _PII_EMAIL, "<EMAIL>")
    c_ph = _regex_count(engine, "t1", _PII_PHONE)
    r_ph = _regex_sub_all(engine, "t1", _PII_PHONE, "<PHONE>")
    c_ip = _regex_count(engine, "t2", _PII_IP)
    r_ip = _regex_sub_all(engine, "t2", _PII_IP, "<IP>")
    return f"""
      WITH aug AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
                    || CAST(doc_id AS STRING) || '@example.com' ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN ' call +44-555-'
                    || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN ' from 10.'
                    || CAST(doc_id % 256 AS STRING) || '.0.'
                    || CAST(doc_id % 100 AS STRING) ELSE '' END AS txt
        FROM documents),
      s1 AS (SELECT doc_id, {c_em} AS n_emails, {r_em} AS t1 FROM aug),
      s2 AS (SELECT doc_id, n_emails, {c_ph} AS n_phones, {r_ph} AS t2 FROM s1),
      s3 AS (SELECT doc_id, n_emails, n_phones, {c_ip} AS n_ips, {r_ip} AS t3
             FROM s2)
      SELECT doc_id,
             CAST(n_emails AS BIGINT) AS n_emails,
             CAST(n_phones AS BIGINT) AS n_phones,
             CAST(n_ips AS BIGINT) AS n_ips,
             md5(t3) AS redacted_md5
      FROM s3
    """


def _q_dup_spans(engine: str) -> str:
    """Exact-substring span dedup (Lee et al. 2022): mark every word-k-gram
    position whose gram appears in MORE THAN ONE document, report per-doc
    duplicated-span counts and ratio. k=3 here because the synthetic corpus
    draws from a ~40-word vocabulary (k=50 tokens at production scale is a
    parameter change only — the plan shape is identical). Scale shape: one
    explode pass (≈n_tokens rows/doc), a map-side-combinable GROUP BY on the
    gram hash, and ONE hash-partitioned equi-join back — the distributed
    formulation of the suffix-array pass, no all-pairs anywhere. The ratio
    is integer-micro (FLOOR of a double whose numerator < 2^53) so the
    distributed aggregation is order-independent and bit-exact on both
    engines."""
    sh = _shingles(engine)
    h = _tokhash(engine, "g")
    expl = "explode" if engine == "spark" else "unnest"
    guard = "length(text) - length(replace(text, ' ', '')) >= 2"
    return f"""
      WITH grams AS (
        SELECT doc_id, {h} AS ghash
        FROM (SELECT doc_id, {expl}({sh}) AS g
              FROM documents WHERE {guard}) t),
      dup AS (
        SELECT ghash FROM grams GROUP BY ghash
        HAVING COUNT(DISTINCT doc_id) > 1)
      SELECT g.doc_id AS doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN d.ghash IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_spans,
             CAST(FLOOR(SUM(CASE WHEN d.ghash IS NOT NULL THEN 1 ELSE 0 END)
                        * 1000000.0 / COUNT(*)) AS BIGINT) AS dup_ratio_micro
      FROM grams g LEFT JOIN dup d ON g.ghash = d.ghash
      GROUP BY g.doc_id
    """


def _q_shard_assign(engine: str) -> str:
    """Deterministic global shuffle + shard assignment for training-data
    export: shard = TOKHASH(doc_id) % 8, position = rank of the hash within
    the shard. This is exactly `repartition(shard).sortWithinPartitions(hv)`
    — the reproducible pre-training shuffle (no RNG state, no driver
    coordination; a pure function of the row, identical at any cluster
    size, same property as stratified_sample). The per-shard window is the
    per-output-file writer order, so at 100 TB the shard count is the file
    count and each window sorts one shard's slice only — no global sort."""
    h = _tokhash(engine, "CAST(doc_id AS STRING)")
    return f"""
      WITH h AS (SELECT doc_id, {h} AS hv FROM documents)
      SELECT doc_id,
             CAST(hv % 8 AS INT) AS shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8
                                     ORDER BY hv, doc_id) AS INT) AS pos
      FROM h
    """


def _q_semdedup(engine: str) -> str:
    """SemDeDup (Abbas et al. 2023): embeddings are pre-clustered (the
    `label` column = the coarse cell the IVF queries use), pairwise cosine
    runs WITHIN each cluster only, and any vector with a smaller-id
    within-cluster neighbor above the threshold is marked duplicate. The
    cluster equi-join bounds pair work to Σ|cell|² instead of n² — the
    paper's exact scaling argument. τ=0.25 is pinned to the synthetic
    corpus' within-label cosine distribution (measured p99≈0.295, max≈0.47
    at sf0.01) so a nontrivial dup set exists at every scale factor —
    production embeddings use τ≈0.95+; the parameter is the only change.
    Cosine is the battery's bit-exact sequential-fold formula rounded to
    1e-6 before the threshold compare, so both engines make identical
    keep/drop decisions."""
    cos = _cosine(engine, "a.embedding", "b.embedding")
    return f"""
      WITH dups AS (
        SELECT DISTINCT b.vec_id AS vec_id
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND({cos}, 6) >= 0.25)
      SELECT e.vec_id AS vec_id, e.label AS label,
             CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
      FROM embeddings e LEFT JOIN dups d ON e.vec_id = d.vec_id
    """


def _kmeans_explode(engine: str) -> str:
    """Micro-quantized embedding dims with a +1e6 offset so every value is
    a non-negative BIGINT: centroid means use integer division, and trunc
    (Spark DIV) ≡ floor (DuckDB //) only holds for non-negative operands.
    Distances are offset-invariant ((v+o)-(c+o) = v-c)."""
    if engine == "spark":
        return (
            "SELECT vec_id, pos AS dim, "
            "CAST(ROUND(CAST(val AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS v "
            "FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, val"
        )
    return (
        "SELECT vec_id, i - 1 AS dim, "
        "CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS v "
        "FROM embeddings, generate_series(1, 64) g(i)"
    )


def _q_kmeans_embed(engine: str) -> str:
    """Lloyd's k-means over the embedding table (k=8, 3 unrolled
    assignment rounds / 2 centroid updates) — the clustering pass that
    PRODUCES the coarse cells SemDeDup and the IVF queries consume (their
    `label` column is this operator's output in a real pipeline). All
    arithmetic is integer fixed point: dims are micro-quantized with a
    non-negative offset (see _kmeans_explode), distances are BIGINT sums of
    squared diffs (≤ 64·(1.06e6)² ≈ 7.2e13, overflow-safe), centroid
    updates are SUM DIV COUNT on non-negative values, and the argmin
    tie-breaks on (d2, cid) — so Spark ≡ DuckDB bit-exactly with zero float
    ops. Init = the embeddings of vec_id 0..7 (deterministic, any SF).
    Empty clusters keep their previous centroid (the LEFT JOIN + COALESCE).
    At 100 TB each iteration is: assignment map-side against the tiny
    broadcast centroid table + ONE partial-agg shuffle for the update —
    the DataFrame twin (_kmeans_embed_spark) pins exactly that plan; this
    shared SQL is the semantics contract both engines agree on."""
    div = "DIV" if engine == "spark" else "//"
    parts = [f"WITH ev AS ({_kmeans_explode(engine)}),",
             "c0 AS (SELECT vec_id AS cid, dim, v AS c FROM ev WHERE vec_id < 8)"]
    prev = "c0"
    for k in (1, 2, 3):
        parts.append(f""",
      d{k} AS (
        SELECT e.vec_id, c.cid, CAST(SUM((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS d2
        FROM ev e JOIN {prev} c ON c.dim = e.dim
        GROUP BY e.vec_id, c.cid),
      a{k} AS (
        SELECT vec_id, cid, d2 FROM (
          SELECT vec_id, cid, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY d2 ASC, cid ASC) AS rk
          FROM d{k}) t
        WHERE rk = 1)""")
        if k < 3:
            parts.append(f""",
      u{k} AS (
        SELECT a.cid, e.dim, CAST(SUM(e.v) {div} COUNT(*) AS BIGINT) AS c
        FROM a{k} a JOIN ev e ON e.vec_id = a.vec_id
        GROUP BY a.cid, e.dim),
      c{k} AS (
        SELECT p.cid, p.dim, COALESCE(u.c, p.c) AS c
        FROM {prev} p LEFT JOIN u{k} u ON u.cid = p.cid AND u.dim = p.dim)""")
            prev = f"c{k}"
    parts.append("""
      SELECT vec_id, CAST(cid AS INT) AS cluster, d2 AS d2_fp FROM a3
    """)
    return "".join(parts)


def _pq_cte(engine: str) -> str:
    """Shared CTE chain for product quantization (text shared verbatim by
    the oracle SQL and the Spark index-build job, so the persisted index is
    bit-identical to what the oracle derives inline): micro-quantized dims
    (``_kmeans_explode``) → 16 subspaces × 4 dims → per-subspace codebook of
    16 centroids (init = vec_id 0..15's subvectors, ONE Lloyd update — the
    independent-per-subspace k-means of Jégou et al. 2011 §III) → ``codes``
    (vec_id, sub, code: the argmin centroid per subspace, tie-break cid)
    and ``d2t`` (every vector×centroid subspace distance — the query row's
    slice of it IS the ADC distance table). All BIGINT fixed point: squared
    diffs ≤ 4·(2.1e6)² ≈ 1.8e13 per subspace, overflow-safe. Geometry
    (16×4-dim subspaces, K=16, short-list 64) was picked by measured
    recall@10 vs exact fixed-point L2: 8/10 at sf0.01 and 9/10 at sf0.001,
    vs 4-5/10 for the 8×8-dim/K=8/32 starting point."""
    div = "DIV" if engine == "spark" else "//"
    return f"""ev AS ({_kmeans_explode(engine)}),
      sv AS (SELECT vec_id, dim, CAST(dim {div} 4 AS INT) AS sub, v FROM ev),
      c0 AS (SELECT vec_id AS cid, dim, v AS c FROM sv WHERE vec_id < 16),
      d1 AS (
        SELECT e.vec_id, e.sub, c.cid,
               CAST(SUM((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS d2
        FROM sv e JOIN c0 c ON c.dim = e.dim
        GROUP BY e.vec_id, e.sub, c.cid),
      a1 AS (
        SELECT vec_id, sub, cid FROM (
          SELECT vec_id, sub, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                    ORDER BY d2 ASC, cid ASC) AS rk
          FROM d1) t
        WHERE rk = 1),
      u1 AS (
        SELECT a.cid, e.dim, CAST(SUM(e.v) {div} COUNT(*) AS BIGINT) AS c
        FROM a1 a JOIN sv e ON e.vec_id = a.vec_id AND e.sub = a.sub
        GROUP BY a.cid, e.dim),
      c1 AS (
        SELECT p.cid, p.dim, COALESCE(u.c, p.c) AS c
        FROM c0 p LEFT JOIN u1 u ON u.cid = p.cid AND u.dim = p.dim),
      d2t AS (
        SELECT e.vec_id, e.sub, c.cid,
               CAST(SUM((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS d2
        FROM sv e JOIN c1 c ON c.dim = e.dim
        GROUP BY e.vec_id, e.sub, c.cid),
      codes AS (
        SELECT vec_id, sub, cid AS code FROM (
          SELECT vec_id, sub, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                    ORDER BY d2 ASC, cid ASC) AS rk
          FROM d2t) t
        WHERE rk = 1)"""


def _q_ann_pq(engine: str) -> str:
    """Product-quantization ANN (Jégou et al. 2011, reimplemented from the
    published paper): vectors compress to 16 4-bit codes (one argmin
    centroid per 4-dim subspace), the query builds a tiny 16×16 asymmetric-
    distance table (exact query-subvector ↔ centroid distances), and the
    approximate distance of EVERY database vector is a table-lookup sum —
    no full-vector arithmetic per candidate. Top-64 by ADC then exact
    re-rank on those 64 only (the standard PQ short-list refinement),
    emitting top-10 by exact fixed-point L2. This shared SQL is the
    semantics contract (training + encode + probe inline); the DataFrame
    twin (:func:`_ann_pq_spark`) probes a PERSISTED codes/codebook index —
    at 100 TB the codes table is ~16× smaller than the vectors, the
    distance table is 256 rows broadcast, and the probe never touches an
    embedding except the query's own and the 64 re-rank candidates."""
    return f"""
      WITH {_pq_cte(engine)},
      dtab AS (SELECT sub, cid, d2 FROM d2t WHERE vec_id = 0),
      adc AS (
        SELECT k.vec_id, CAST(SUM(t.d2) AS BIGINT) AS adc_d2
        FROM codes k JOIN dtab t ON t.sub = k.sub AND t.cid = k.code
        WHERE k.vec_id <> 0
        GROUP BY k.vec_id),
      cand AS (
        SELECT vec_id, adc_d2 FROM (
          SELECT vec_id, adc_d2,
                 ROW_NUMBER() OVER (ORDER BY adc_d2 ASC, vec_id ASC) AS rk
          FROM adc) t
        WHERE rk <= 64),
      qv AS (SELECT dim, v FROM sv WHERE vec_id = 0),
      exact AS (
        SELECT e.vec_id, c.adc_d2,
               CAST(SUM((e.v - q.v) * (e.v - q.v)) AS BIGINT) AS d2_fp
        FROM sv e JOIN cand c ON c.vec_id = e.vec_id
        JOIN qv q ON q.dim = e.dim
        GROUP BY e.vec_id, c.adc_d2)
      SELECT vec_id, adc_d2, d2_fp, rk FROM (
        SELECT vec_id, adc_d2, d2_fp,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY d2_fp ASC, vec_id ASC) AS INT) AS rk
        FROM exact) t
      WHERE rk <= 10
    """


def _q_winnowing(engine: str) -> str:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS
    2003, reimplemented from the published algorithm): hash every word-
    3-gram shingle, slide a w=4 window over the per-document hash sequence,
    keep each window's minimum — the DISTINCT selected hashes are the
    document's fingerprint set (guaranteed-coverage sub-document dedup:
    any shared run ≥ w+k-1 words shares a fingerprint). Documents with
    fewer than w shingles contribute their single global-min hash (the
    whole-sequence degenerate window). The window function partitions by
    doc_id, so at 100 TB each document's pass is one partition-local
    sequential scan after a single shuffle on doc_id — full text never
    shuffles (only the 8-byte hash stream does)."""
    guard = "length(text) - length(replace(text, ' ', '')) >= 2"
    sh = _shingles(engine)
    h = _tokhash(engine, "sh")
    if engine == "spark":
        # CASE keeps the shingle lambda unevaluated on <3-token rows: the
        # WHERE guard alone is not ordered before the projection once
        # Catalyst collapses the subquery into the Generate input, and the
        # descending sequence() would element_at out of bounds (ANSI error)
        sh = (f"CASE WHEN {guard} THEN {sh} "
              "ELSE CAST(array() AS ARRAY<STRING>) END")
        g = (f"SELECT doc_id, pos, {h} AS h "
             f"FROM (SELECT doc_id, {sh} AS ss FROM documents WHERE {guard}) s "
             "LATERAL VIEW posexplode(ss) t AS pos, sh")
    else:
        # DuckDB: parallel unnests in one SELECT zip in lockstep — the
        # portable posexplode (generate_series can't take a lateral column)
        g = (f"SELECT doc_id, pos, {h} AS h FROM ("
             "SELECT doc_id, unnest(range(len(ss))) AS pos, unnest(ss) AS sh "
             f"FROM (SELECT doc_id, {sh} AS ss FROM documents WHERE {guard}) s) u")
    return f"""
      WITH g AS ({g}),
      n AS (SELECT doc_id, COUNT(*) AS cnt FROM g GROUP BY doc_id),
      wm AS (
        SELECT doc_id, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM g)
      SELECT DISTINCT wm.doc_id AS doc_id, wm.fp AS fp
      FROM wm JOIN n ON n.doc_id = wm.doc_id
      WHERE n.cnt >= 4 AND wm.pos <= n.cnt - 4
      UNION ALL
      SELECT g.doc_id AS doc_id, MIN(g.h) AS fp
      FROM g JOIN n ON n.doc_id = g.doc_id
      WHERE n.cnt < 4 GROUP BY g.doc_id
    """


def _q_mixture_weights(engine: str) -> str:
    """Domain-mixture resampling manifest (the DoReMi/Pile-style reweighting
    pass): per-language token totals give each language's natural share;
    the target mixture is uniform over languages; weight = target/natural.
    Each document gets an integer repetition count — floor(weight) plus one
    more iff its 60-bit hash fraction falls below the fractional part — the
    deterministic per-row Bernoulli that makes E[repeats] = weight with no
    RNG state and no driver coordination (same cluster-size-invariance
    property as stratified_sample/shard_assign). All weight arithmetic is
    BIGINT micro-units computed by EXACT staged long division (ADVICE r4):
    the naive ``all_tok * 1000000`` intermediate overflows BIGINT once the
    corpus passes ~9.2e12 tokens — i.e. exactly at the 100 TB design point
    (~1e13+ tokens) — so with D = n_langs·lang_tok the quotient is built as
    q0·1e6 + q1·1e3 + q2 where q0 = all_tok÷D, q1 = (all_tok%D)·1e3÷D,
    q2 = (((all_tok%D)·1e3)%D)·1e3÷D. Each stage multiplies a value < D by
    only 1e3, so every intermediate stays < D·1e3 — exact and overflow-free
    while D < 9.2e15 (three decades of headroom past the design point),
    and identical in value to the single division at every scale. The
    weight is capped at 100× (DoReMi-style bounded upsampling — unbounded
    repetition of a near-empty stratum is never wanted in a training mix),
    which also bounds the quotient path: the uncapped branch only runs
    when q0 < 100, so q0·1e6 < 1e8 regardless of corpus size. All operands
    are non-negative, so Spark's truncating DIV and DuckDB's flooring //
    agree."""
    div = "DIV" if engine == "spark" else "//"
    ntok = ("size(split(text, ' '))" if engine == "spark"
            else "len(string_split(text, ' '))")
    h = _tokhash(engine, "CAST(t.doc_id AS STRING)")
    return f"""
      WITH tok AS (SELECT doc_id, lang, CAST({ntok} AS BIGINT) AS n_tok
                   FROM documents),
      lg AS (SELECT lang, SUM(n_tok) AS lang_tok FROM tok GROUP BY lang),
      tot AS (SELECT SUM(lang_tok) AS all_tok, COUNT(*) AS n_langs FROM lg),
      wd AS (SELECT lang, n_langs * lang_tok AS d, all_tok
             FROM lg CROSS JOIN tot),
      ws AS (SELECT lang, d, all_tok {div} d AS q0,
                    (all_tok % d) * 1000 AS x1
             FROM wd),
      w AS (SELECT lang,
                   CAST(CASE WHEN q0 >= 100 THEN 100000000
                        ELSE LEAST(q0 * 1000000 + (x1 {div} d) * 1000
                                   + ((x1 % d) * 1000) {div} d,
                                   100000000) END AS BIGINT) AS w_micro
            FROM ws)
      SELECT t.doc_id AS doc_id, t.lang AS lang, t.n_tok AS n_tokens,
             w.w_micro AS weight_micro,
             CAST(w.w_micro {div} 1000000
                  + CASE WHEN ({h}) % 1000000 < w.w_micro % 1000000
                         THEN 1 ELSE 0 END AS INT) AS n_repeats
      FROM tok t JOIN w ON w.lang = t.lang
    """


_BM25_TERMS = ("data", "spark", "window")


def _q_bm25_search(engine: str) -> str:
    """BM25 top-20 retrieval over the documents table (Robertson/Sparck
    Jones probabilistic ranking, the Okapi BM25 formula from the published
    IR literature; k1=1.2, b=0.75, 3-term query). The idf stays RATIONAL
    ((N − df + 0.5)/(df + 0.5), no libm ln — the tfidf_top_terms trick) and
    each per-term score quantizes to micro-units BIGINT before the terms
    add, so the final score is pure integer arithmetic and Spark ≡ DuckDB
    bit-exactly. Shape: per-term tf via array filters in ONE projection
    pass (no token explode, no shuffle), a 1-row corpus-stats aggregate
    (df per term, total dl), cross-joined back — the DataFrame twin reads
    the 1-row aggregate driver-side and inlines it as literals, so at
    100 TB the query is one text pass + one tiny agg + one top-k."""
    div = "DIV" if engine == "spark" else "//"
    if engine == "spark":
        ntok = "size(split(text, ' '))"

        def tf(t: str) -> str:
            return f"size(filter(split(text, ' '), x -> x = '{t}'))"
    else:
        ntok = "len(string_split(text, ' '))"

        def tf(t: str) -> str:
            return f"len(list_filter(string_split(text, ' '), x -> x = '{t}'))"

    tfs = ", ".join(
        f"CAST({tf(t)} AS BIGINT) AS tf{i}" for i, t in enumerate(_BM25_TERMS))
    dfs = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS)))
    terms = []
    for i in range(len(_BM25_TERMS)):
        idf = (f"CAST(ROUND(1000000.0 * (CAST(g.n AS DOUBLE) "
               f"- CAST(g.df{i} AS DOUBLE) + 0.5) "
               f"/ (CAST(g.df{i} AS DOUBLE) + 0.5)) AS BIGINT)")
        tfn = (f"CAST(ROUND(1000000.0 * CAST(d.tf{i} AS DOUBLE) * 2.2 "
               f"/ (CAST(d.tf{i} AS DOUBLE) + 1.2 * (0.25 "
               f"+ 0.75 * CAST(d.dl AS DOUBLE) "
               f"/ (CAST(g.tot_dl AS DOUBLE) / CAST(g.n AS DOUBLE))))) "
               "AS BIGINT)")
        terms.append(f"(({idf}) * ({tfn}) {div} 1000000)")
    score = " + ".join(terms)
    return f"""
      WITH d AS (SELECT doc_id, CAST({ntok} AS BIGINT) AS dl, {tfs}
                 FROM documents),
      g AS (SELECT COUNT(*) AS n, SUM(dl) AS tot_dl, {dfs} FROM d)
      SELECT doc_id, dl, score_micro, rk FROM (
        SELECT d.doc_id, d.dl, {score} AS score_micro,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY {score} DESC, d.doc_id ASC) AS INT) AS rk
        FROM d CROSS JOIN g) t
      WHERE rk <= 20
    """


def _q_recrawl_priority(engine: str) -> str:
    """Freshness-driven recrawl scheduling (Cho & Garcia-Molina 2003's
    change-rate-proportional policy, reimplemented from the published
    model): per entity, estimate the observed change rate λ from its event
    history ((n−1) changes over the first→last span), then priority =
    age · λ — the expected number of changes missed since the last
    observation. In the crawl this scores the seen table for re-enqueue
    after seen-TTL forgetting (rounds.forget_seen); here the events table
    is the fetch/change history and user_id the entity. All arithmetic is
    integer micro-units over epoch-µs timestamps with EXACT staged long
    division (ADVICE r4 — the naive ``(n_obs−1)·86400·1e6`` and
    ``age_s·rate_micro`` intermediates are unbounded for dense histories /
    old entities): the rate splits its ×1e6 scaling around the span
    division (chg_day÷span then remainder·1e6÷span — exact while
    span_s < 9.2e12 s, i.e. forever), and the priority reorders the
    product around ÷86400 (age_s·(rate÷86400) + age_s·(rate%86400)÷86400 —
    intermediates bounded by ~the result itself, so it overflows only when
    the true priority wouldn't fit a BIGINT anyway). All operands
    non-negative, so truncating DIV ≡ flooring //; values are identical to
    the single-expression form at every scale. One groupBy shuffle + a
    1-row now() aggregate; the entity-history aggregate is the only pass
    over the table."""
    div = "DIV" if engine == "spark" else "//"
    us = _micros(engine, "ts")
    return f"""
      WITH hist AS (
        SELECT user_id, COUNT(*) AS n_obs,
               MIN({us}) AS first_us, MAX({us}) AS last_us
        FROM events GROUP BY user_id),
      g AS (SELECT MAX(last_us) AS now_us FROM hist),
      spans AS (
        SELECT user_id, n_obs,
               (g.now_us - last_us) {div} 1000000 AS age_s,
               (last_us - first_us) {div} 1000000 AS span_s,
               (n_obs - 1) * 86400 AS chg_day
        FROM hist CROSS JOIN g),
      rates AS (
        SELECT user_id, n_obs, age_s,
               CAST(CASE WHEN span_s >= 1
                    THEN (chg_day {div} span_s) * 1000000
                         + ((chg_day % span_s) * 1000000) {div} span_s
                    ELSE 0 END AS BIGINT) AS rate_micro
        FROM spans)
      SELECT user_id, n_obs, age_s, rate_micro,
             CAST(age_s * (rate_micro {div} 86400)
                  + (age_s * (rate_micro % 86400)) {div} 86400
                  AS BIGINT) AS priority_micro
      FROM rates
    """


def _q_quality_classifier(engine: str) -> str:
    """Linear quality-classifier INFERENCE over the documents table — the
    model-scoring pass every modern pretraining pipeline runs (fastText
    linear classifiers, Joulin et al. 2016; FineWeb-Edu / DCLM filter by a
    learned quality score, Penedo et al. 2024 / Li et al. 2024). Features
    are hashed bag-of-words (the fastText hashing trick): each token hashes
    into one of 64 buckets, each bucket carries a fixed integer weight in
    [0, 200] milli-units — a deterministic stand-in for trained weights
    (in production the weight vector is a tiny broadcast array; the
    arithmetic shape is identical). The document score is the mean token
    weight (fastText mean-pooling), kept in BIGINT milli-units with the
    centering bias subtracted AFTER the integer division so every operand
    stays non-negative (Spark DIV truncates toward zero, DuckDB // floors —
    they only agree on non-negative operands). keep = score >= 0 is the
    filter decision. Scale shape: ONE projection pass over text (the
    per-token lambda runs inside whole-stage codegen / a vectorized DuckDB
    list kernel), no explode, no shuffle, no UDF — at 100 TB this is a
    map-only scan."""
    tokh = _tokhash(engine, "x")
    if engine == "spark":
        toks = "split(text, ' ')"
        sum_w = (f"aggregate({toks}, 0L, "
                 f"(acc, x) -> acc + ((({tokh}) % 64) * 37 + 11) % 201)")
        ntok = f"size({toks})"
    else:
        toks = "string_split(text, ' ')"
        sum_w = (f"CAST(list_aggregate(list_transform({toks}, "
                 f"x -> ((({tokh}) % 64) * 37 + 11) % 201), 'sum') AS BIGINT)")
        ntok = f"len({toks})"
    div = "DIV" if engine == "spark" else "//"
    return f"""
      WITH f AS (SELECT doc_id, lang, CAST({ntok} AS BIGINT) AS n_tokens,
                        {sum_w} AS sum_w
                 FROM documents)
      SELECT doc_id, lang, n_tokens,
             CAST((1000 * sum_w) {div} n_tokens AS BIGINT) - 100000
               AS score_milli,
             CAST(CASE WHEN (1000 * sum_w) {div} n_tokens >= 100000
                  THEN 1 ELSE 0 END AS INT) AS keep
      FROM f
    """


_BADWORDS = ("slow", "junk", "spam")


def _q_badwords_filter(engine: str) -> str:
    """C4-style blocklist filtering (Raffel et al. 2020 dropped any page
    containing a "List of Dirty, Naughty …" word; RefinedWeb and FineWeb
    keep the same stage with fraction thresholds). Per document: count
    tokens that hit the blocklist, the blocklist fraction in milli-units,
    and the drop decision — flagged when ANY blocklist token appears AND
    the fraction clears 40‰ (the fraction guard keeps long documents with
    one incidental hit, the RefinedWeb refinement of C4's drop-on-any).
    The blocklist is a 3-token stand-in inlined as array literals — in
    production it is a few-thousand-entry broadcast set; the shape (array
    membership inside one projection pass) is identical. Scale: map-only
    single text pass, no explode, no shuffle, no UDF."""
    lst = ", ".join(f"'{w}'" for w in _BADWORDS)
    if engine == "spark":
        toks = "split(text, ' ')"
        bad = (f"size(filter({toks}, x -> array_contains(array({lst}), x)))")
        ntok = f"size({toks})"
    else:
        toks = "string_split(text, ' ')"
        bad = (f"len(list_filter({toks}, x -> list_contains([{lst}], x)))")
        ntok = f"len({toks})"
    div = "DIV" if engine == "spark" else "//"
    return f"""
      WITH f AS (SELECT doc_id, CAST({ntok} AS BIGINT) AS n_tokens,
                        CAST({bad} AS BIGINT) AS bad_count
                 FROM documents)
      SELECT doc_id, n_tokens, bad_count,
             CAST((1000 * bad_count) {div} n_tokens AS BIGINT) AS bad_milli,
             CAST(CASE WHEN bad_count > 0
                        AND (1000 * bad_count) {div} n_tokens >= 40
                  THEN 1 ELSE 0 END AS INT) AS flagged
      FROM f
    """


def _q_asof_join(engine: str) -> str:
    """As-of join — each 'view' event matched to the same user's most recent
    prior-or-equal 'purchase' (the operator Spark's DataFrame API lacks;
    DuckDB spells it ``ASOF LEFT JOIN``, and tests/test_queries.py pins this
    portable formulation ≡ DuckDB's native ASOF JOIN row-for-row). The
    scalable shape is NOT a per-row inequality probe: union-tag the two
    streams, ONE window shuffle on (user_id, ts) computing a running MAX
    over purchase timestamps (purchases sort before ties via is_p DESC, so
    the match is <=), then one equi-join back to the purchase slice for its
    payload — O(n log n) per partition, no range join, no all-pairs.
    Timestamps ride as epoch-µs BIGINTs end to end (no float, no timestamp
    union-type coercion); unmatched views keep -1 sentinels so both engines
    hash identically.

    The payload slice is deduped per (user_id, p_us) with a deterministic
    max-event_id tie-break (ADVICE r4): two purchases sharing a user and
    the same microsecond would otherwise fan the join-back out — each
    matching view row duplicating — which is wrong as-of semantics and
    near-certain at the 10^10-row design point even though the current
    fixtures happen to be collision-free. The dedup is a GROUP BY with
    MAX/MAX_BY (map-side partial agg, no second window shuffle; Spark and
    DuckDB both ship MAX_BY and its event_id tie scan is total-ordered, so
    the picked payload is deterministic in both engines)."""
    us = _micros(engine, "ts")
    return f"""
      WITH tagged AS (
        SELECT user_id, {us} AS ts_us, event_id AS v_event_id,
               CAST(NULL AS BIGINT) AS p_us_in, 0 AS is_p
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT user_id, {us} AS ts_us, CAST(NULL AS BIGINT) AS v_event_id,
               {us} AS p_us_in, 1 AS is_p
        FROM events WHERE event_type = 'purchase'
      ), runs AS (
        SELECT user_id, ts_us, v_event_id, is_p,
               MAX(p_us_in) OVER (
                 PARTITION BY user_id ORDER BY ts_us ASC, is_p DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_us
        FROM tagged
      ), pp AS (
        SELECT user_id, p_us, MAX(event_id) AS p_event_id,
               MAX_BY(p_cents, event_id) AS p_cents
        FROM (SELECT user_id, {us} AS p_us, event_id,
                     CAST(ROUND(value * 100) AS BIGINT) AS p_cents
              FROM events WHERE event_type = 'purchase') t
        GROUP BY user_id, p_us
      )
      SELECT r.v_event_id AS v_event_id, r.user_id AS user_id,
             COALESCE(pp.p_event_id, CAST(-1 AS BIGINT)) AS p_event_id,
             COALESCE(r.ts_us - r.p_us, CAST(-1 AS BIGINT)) AS gap_us,
             COALESCE(pp.p_cents, CAST(-1 AS BIGINT)) AS p_cents
      FROM runs r
      LEFT JOIN pp ON pp.user_id = r.user_id AND pp.p_us = r.p_us
      WHERE r.is_p = 0
    """


_RANGE_JOIN_BIN_US = 24 * 3600 * 1000000  # window length == bin width


def _q_range_join(engine: str) -> str:
    """Range join — per 'purchase', count the same user's 'click' events in
    the following 24 h. The DuckDB side IS the naive inequality join (the
    semantics contract; DuckDB plans it as an IEJoin). The Spark side must
    not — an inequality-only join there is BroadcastNestedLoop, O(n·m) at
    scale — so it runs the bucketed formulation: both sides map to fixed
    24 h time bins (a window of exactly one bin width overlaps ≤ 2 bins, so
    each range emits ≤ 2 bin rows), ONE equi-join on (user_id, bin), then
    the exact predicate filters in-join. Each matching (purchase, click)
    pair meets in exactly one bin (the click's own), so no dedup stage is
    needed. Plan-shape-tested: no nested-loop/cartesian node."""
    us = _micros(engine, "ts")
    bin_us = _RANGE_JOIN_BIN_US
    if engine == "duckdb":
        return f"""
          WITH p AS (SELECT event_id AS p_event_id, user_id, ts
                     FROM events WHERE event_type = 'purchase')
          SELECT p.p_event_id AS p_event_id, p.user_id AS user_id,
                 CAST(COUNT(c.user_id) AS BIGINT) AS clicks_24h
          FROM p LEFT JOIN events c
            ON c.user_id = p.user_id AND c.event_type = 'click'
           AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 24 HOUR
          GROUP BY 1, 2
        """
    return f"""
      WITH p AS (
        SELECT event_id AS p_event_id, user_id,
               {us} AS s_us, {us} + {bin_us} AS e_us
        FROM events WHERE event_type = 'purchase'
      ), pbins AS (
        SELECT p_event_id, user_id, s_us, e_us, bin
        FROM p LATERAL VIEW explode(sequence(
               s_us DIV {bin_us}, (e_us - 1) DIV {bin_us})) t AS bin
      ), c AS (
        SELECT user_id, {us} AS c_us, {us} DIV {bin_us} AS bin
        FROM events WHERE event_type = 'click'
      ), hits AS (
        SELECT pb.p_event_id, COUNT(*) AS n
        FROM pbins pb JOIN c ON c.user_id = pb.user_id AND c.bin = pb.bin
        WHERE c.c_us >= pb.s_us AND c.c_us < pb.e_us
        GROUP BY pb.p_event_id
      )
      SELECT p.p_event_id AS p_event_id, p.user_id AS user_id,
             CAST(COALESCE(h.n, 0) AS BIGINT) AS clicks_24h
      FROM p LEFT JOIN hits h ON h.p_event_id = p.p_event_id
    """


def _dup_spans_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame twin of _q_dup_spans: the shared SQL references the `grams`
    # CTE twice (dup detection + join-back) and Spark inlines CTEs, so the
    # oracle text would explode-and-hash the full corpus TWICE. Persist the
    # gram pass once; the rest is the identical map-side-combinable GROUP BY
    # plus one hash-partitioned equi-join (oracle SQL unchanged).
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    grams = _persist_tracked(spark.sql(
        "SELECT doc_id, " + _tokhash("spark", "g") + " AS ghash "
        "FROM (SELECT doc_id, explode(" + _shingles("spark") + ") AS g "
        "FROM documents "
        "WHERE length(text) - length(replace(text, ' ', '')) >= 2) t"))
    dup = (
        grams.groupBy("ghash")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("ghash", F.lit(1).alias("isdup"))
    )
    j = grams.join(dup, "ghash", "left").withColumn(
        "isdup", F.coalesce("isdup", F.lit(0))
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.sum("isdup").cast("bigint").alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.floor(F.col("n_dup_spans") * 1000000.0 / F.col("n_spans"))
            .cast("bigint")
            .alias("dup_ratio_micro"),
        )
    )


def _ivf_index_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once IVF coarse index: (label, dim, c) per-dimension centroids,
    committed as a SnapStore table keyed by the embeddings file identity
    (VERDICT r2 #4 build-once; VERDICT r4 #2 store-committed — atomic
    manifest rename instead of a ``_SUCCESS``-check-then-overwrite race,
    superseded data dirs expired on rebuild, same verbs as the crawl
    tables). The centroid arithmetic is the exact integer-fixed-point
    formula the DuckDB oracle computes inline, so probe results are
    bit-identical to the oracle's. The centroid table is O(labels·dims)
    rows — a single-task write is the right layout."""
    from sparkcrawl.indexstore import ensure_index, index_store

    src = f"{sf_dir}/embeddings.parquet"

    def build(store, tables, ident):
        spark.read.parquet(src).createOrReplaceTempView("embeddings")
        df = spark.sql(
            """
            SELECT label, pos AS dim,
                   CAST(SUM(CAST(ROUND(CAST(val AS DOUBLE) * 1000000) AS BIGINT))
                        AS DOUBLE)
                     / CAST(1000000.0 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
            FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, val
            GROUP BY label, pos
            """
        )
        store.overwrite(tables["centroids"], df.coalesce(1),
                        meta={"ident": ident})

    tables = ensure_index(spark, "ivf", src, "fixp-l2", ["centroids"], build)
    return index_store().read(spark, tables["centroids"])


def _ann_ivf_multiprobe_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe=3 against the PERSISTED centroid index: the probe plan
    explodes only the single query vector and joins the ~(labels×64)-row
    index table — the full-embeddings posexplode lives in the one-time
    index build (:func:`_ivf_index_df`), not in the query. The DuckDB
    oracle computes the same centroids inline; results are bit-identical
    (same fixed-point formula)."""
    idx = _ivf_index_df(spark, sf_dir)
    register_views(spark, sf_dir)
    idx.createOrReplaceTempView("ivf_centroids")
    cos = _cosine("spark", "e.embedding", "q.embedding")
    return spark.sql(
        f"""
      WITH qv AS (
        SELECT pos AS dim, CAST(val AS DOUBLE) AS val
        FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
        LATERAL VIEW posexplode(embedding) t AS pos, val),
      dist AS (
        SELECT c.label,
               SUM(CAST(ROUND((qv.val - c.c) * (qv.val - c.c)
                              * 1000000000000) AS BIGINT)) AS d_fp
        FROM ivf_centroids c JOIN qv ON c.dim = qv.dim
        GROUP BY c.label),
      probe AS (
        SELECT label FROM (
          SELECT label, ROW_NUMBER() OVER (ORDER BY d_fp ASC, label ASC) AS rk
          FROM dist) t
        WHERE rk <= 3),
      q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, cos, rk FROM (
        SELECT e.vec_id AS vec_id, ROUND({cos}, 6) AS cos,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY ROUND({cos}, 6) DESC, e.vec_id ASC) AS INT) AS rk
        FROM embeddings e
        JOIN probe p ON e.label = p.label
        CROSS JOIN q
        WHERE e.vec_id <> 0) t
      WHERE rk <= 10
    """
    )


def _pq_index_dfs(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Build-once PQ index (codes + codebook) committed as SnapStore tables
    keyed by the embeddings file identity (VERDICT r4 #2: atomic manifest
    rename replaces the ``_SUCCESS``-check-then-overwrite race, a
    regenerated source overwrites the SAME tables and the superseded data
    dirs are expired — nothing strands in scratch space). The training and
    encode CTEs are the SAME text the DuckDB oracle runs inline
    (:func:`_pq_cte`), so the persisted index is bit-identical to what the
    oracle derives. At 100 TB this is the one-time index-build job; every
    probe afterwards scans the ~64×-smaller codes table.

    Layout: the codebook is O(K·dims) rows — single task. The CODES table
    is O(n_vectors·M) rows and is written repartitioned by vec_id hash
    (VERDICT r4 "What's wrong #2": a coalesce(1) here would serialize the
    entire encode output through one core at the design point, and a
    hash-bucketed layout makes the probe's codes scan parallel by
    construction instead of by parquet row-group luck)."""
    from sparkcrawl.indexstore import ensure_index, index_store

    src = f"{sf_dir}/embeddings.parquet"

    def build(store, tables, ident):
        spark.read.parquet(src).createOrReplaceTempView("embeddings")
        # train once (commit the codebook), then encode FROM the committed
        # codebook — running the full _pq_cte twice would redo the Lloyd
        # training for the codes table; encoding against the committed
        # codebook is bit-identical (same centroid values) and halves the
        # build. The encode CTEs below are d2t/codes from _pq_cte with the
        # inline c1 swapped for the committed table.
        cb = spark.sql(f"WITH {_pq_cte('spark')} SELECT cid, dim, c FROM c1")
        store.overwrite(tables["codebook"], cb.coalesce(1),
                        meta={"ident": ident})
        store.read(spark, tables["codebook"]) \
            .createOrReplaceTempView("pq_codebook_build")
        codes = spark.sql(f"""
          WITH ev AS ({_kmeans_explode('spark')}),
          sv AS (SELECT vec_id, dim, CAST(dim DIV 4 AS INT) AS sub, v
                 FROM ev),
          d2t AS (
            SELECT e.vec_id, e.sub, c.cid,
                   CAST(SUM((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS d2
            FROM sv e JOIN pq_codebook_build c ON c.dim = e.dim
            GROUP BY e.vec_id, e.sub, c.cid)
          SELECT vec_id, sub, cid AS code FROM (
            SELECT vec_id, sub, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2 ASC, cid ASC) AS rk
            FROM d2t) t
          WHERE rk = 1
        """)
        store.overwrite(tables["codes"], codes.repartition(8, "vec_id"),
                        meta={"ident": ident})

    # the params tag versions the index: retuning M/K/short-list must never
    # reuse an index built under the old geometry (the BENCH-corpus
    # cache-key lesson, VERDICT r3 #2)
    tables = ensure_index(spark, "pq", src, "16x4x16",
                          ["codebook", "codes"], build)
    store = index_store()
    return {lt: store.read(spark, t) for lt, t in tables.items()}


def _ann_pq_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ probe against the PERSISTED index (:func:`_pq_index_dfs`): the
    query vector explodes alone into the 16×16 asymmetric-distance table,
    ADC is ONE equi-join of the slim codes table against that broadcast
    table plus a partial-agg sum, and only the 64 short-listed candidates'
    embeddings are exploded for the exact re-rank — the full-table explode
    lives in the one-time index build. Bit-identical to the oracle's inline
    derivation (same fixed-point CTE text)."""
    idx = _pq_index_dfs(spark, sf_dir)
    register_views(spark, sf_dir)
    idx["codebook"].createOrReplaceTempView("pq_codebook")
    idx["codes"].createOrReplaceTempView("pq_codes")
    return spark.sql("""
      WITH qv AS (
        SELECT pos AS dim, CAST(pos DIV 4 AS INT) AS sub,
               CAST(ROUND(CAST(val AS DOUBLE) * 1000000) AS BIGINT)
                 + 1000000 AS v
        FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        LATERAL VIEW posexplode(embedding) t AS pos, val),
      dtab AS (
        SELECT qv.sub, c.cid, CAST(SUM((qv.v - c.c) * (qv.v - c.c))
                                   AS BIGINT) AS d2
        FROM pq_codebook c JOIN qv ON c.dim = qv.dim
        GROUP BY qv.sub, c.cid),
      adc AS (
        SELECT k.vec_id, CAST(SUM(t.d2) AS BIGINT) AS adc_d2
        FROM pq_codes k JOIN dtab t ON t.sub = k.sub AND t.cid = k.code
        WHERE k.vec_id <> 0
        GROUP BY k.vec_id),
      cand AS (
        -- ORDER BY + LIMIT plans as TakeOrderedAndProject (distributed
        -- top-k, map-side partial then one 64-row merge) — the ROW_NUMBER
        -- formulation the oracle runs would single-partition-sort EVERY
        -- vector's ADC score; ties break identically ((adc_d2, vec_id) is
        -- a total order, so the 64 selected rows are the same set)
        SELECT vec_id, adc_d2 FROM adc
        ORDER BY adc_d2 ASC, vec_id ASC LIMIT 64),
      cv AS (
        SELECT e.vec_id, c.adc_d2, pos AS dim,
               CAST(ROUND(CAST(val AS DOUBLE) * 1000000) AS BIGINT)
                 + 1000000 AS v
        FROM embeddings e JOIN cand c ON c.vec_id = e.vec_id
        LATERAL VIEW posexplode(e.embedding) t AS pos, val),
      exact AS (
        SELECT cv.vec_id, cv.adc_d2,
               CAST(SUM((cv.v - qv.v) * (cv.v - qv.v)) AS BIGINT) AS d2_fp
        FROM cv JOIN qv ON qv.dim = cv.dim
        GROUP BY cv.vec_id, cv.adc_d2)
      SELECT vec_id, adc_d2, d2_fp, rk FROM (
        SELECT vec_id, adc_d2, d2_fp,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY d2_fp ASC, vec_id ASC) AS INT) AS rk
        FROM exact) t
      WHERE rk <= 10
    """)


def _hp_bands_udf():
    """Vectorized hyperplane-sketch kernel: embedding → 8 band values.
    Accumulates over dims in ascending index order so every projection sum
    is the same IEEE left fold the DuckDB oracle's literal SQL computes."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    W = np.array(_hp_weights())  # (_HP_BANDS*_HP_BITS, _EMB_DIM)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def hp_bands(emb: pd.Series) -> pd.Series:
        M = np.stack(emb.to_numpy())  # (n, dim) float32
        acc = np.zeros((M.shape[0], W.shape[0]), dtype=np.float64)
        for i in range(_EMB_DIM):  # dim-sequential == SQL left fold
            acc += M[:, i].astype(np.float64)[:, None] * W[:, i][None, :]
        bits = (np.round(acc, 6) > 0).astype(np.int64)
        bands = np.zeros((M.shape[0], _HP_BANDS), dtype=np.int64)
        for j in range(_HP_BANDS):
            for r in range(_HP_BITS):
                bands[:, j] += bits[:, j * _HP_BITS + r] << r
        return pd.Series(list(bands))

    return hp_bands


def _cos6_udf():
    """Vectorized exact-cosine verify, bit-identical to the oracle's SQL:
    dot/norm sums accumulate over dims in ascending index order (the same
    IEEE left fold as DuckDB's list_aggregate), then ROUND(…, 6)."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def cos6(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(a.to_numpy())
        B = np.stack(b.to_numpy())
        n = A.shape[0]
        dot = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        for i in range(_EMB_DIM):  # dim-sequential == SQL left fold
            x = A[:, i].astype(np.float64)
            y = B[:, i].astype(np.float64)
            dot += x * y
            na += x * x
            nb += y * y
        return pd.Series(np.round(dot / (np.sqrt(na) * np.sqrt(nb)), 6))

    return cos6


def _minhash_lsh_pairs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame twin of the shared SQL: Spark inlines CTEs, so the UNION of
    # per-band self-joins would recompute the (expensive) signature
    # aggregation once per branch side. Compute the banded sketch ONCE,
    # persist it, explode to (doc_id, band_no, band_hash) and candidate-join
    # on the compound band key — one shuffle, same result set.
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    sigs = spark.sql(_q_minhash_signatures("spark"))
    banded = sigs.select(
        "doc_id",
        F.md5(F.concat_ws(",", "sig0", "sig1", "sig2", "sig3")).alias("b0"),
        F.md5(F.concat_ws(",", "sig4", "sig5", "sig6", "sig7")).alias("b1"),
    )
    sk = _persist_tracked(
        banded.select(
            "doc_id",
            F.posexplode(F.array("b0", "b1")).alias("band_no", "band_val"),
        )
    )
    return (
        sk.alias("x")
        .join(sk.alias("y"), ["band_no", "band_val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def _ngram_jaccard_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same CTE-recompute hazard as minhash_lsh_pairs (4 band branches would
    # re-aggregate signatures 8×): persist the banded sketch and the shingle
    # sets, single candidate equi-join, exact Jaccard on candidates only.
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    sigs = spark.sql(_q_minhash_signatures("spark"))
    banded = sigs.select(
        "doc_id",
        *[
            F.md5(F.concat_ws(",", f"sig{2 * j}", f"sig{2 * j + 1}")).alias(f"c{j}")
            for j in range(4)
        ],
    )
    sk = _persist_tracked(
        banded.select(
            "doc_id",
            F.posexplode(F.array(*[f"c{j}" for j in range(4)])).alias(
                "band_no", "band_val"
            ),
        )
    )
    cand = (
        sk.alias("x")
        .join(sk.alias("y"), ["band_no", "band_val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = _shingles("spark")
    d = _persist_tracked(
        spark.table("documents")
        .filter(F.length("text") - F.length(F.regexp_replace("text", " ", "")) >= 2)
        .select("doc_id", F.array_distinct(F.expr(sh)).alias("toks"))
    )
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb"))).cast("double")
    uni = F.size(F.array_union(F.col("ta"), F.col("tb"))).cast("double")
    return (
        cand.join(d.select(F.col("doc_id").alias("doc_a"),
                           F.col("toks").alias("ta")), "doc_a")
        .join(d.select(F.col("doc_id").alias("doc_b"),
                       F.col("toks").alias("tb")), "doc_b")
        .withColumn("jaccard", F.round(inter / uni, 6))
        .filter(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b", "jaccard")
    )


def _dedup_components_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters as connected components over the MinHash-LSH pair
    graph, plus the survivor (canonical doc) per cluster = min doc_id.

    Spark side: iterative min-label propagation — each iteration is one
    hash equi-join + groupBy(min), the standard large-scale connected
    components (O(diameter) rounds; for extreme graphs switch to
    large-star/small-star, same join shape). Dup clusters have tiny
    diameter, so this converges in 2-3 rounds. The DuckDB oracle computes
    the same components with a recursive CTE — an iterative distributed
    algorithm with a full SQL correctness gate."""
    from pyspark.sql import functions as F

    pairs = _minhash_lsh_pairs_spark(spark, sf_dir)
    edges = _persist_tracked(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
    )
    comp = _persist_tracked(
        edges.select(F.col("a").alias("doc")).distinct().withColumn(
            "comp", F.col("doc")
        )
    )
    it = 0
    while True:
        # neighbor-min propagation: comp'(v) = min(comp(v), min comp(u) over
        # edges u→v). The changed flag rides the SAME aggregation output, so
        # each iteration is exactly ONE job: the sum() action materializes
        # the persisted nxt and returns the convergence signal together
        # (VERDICT r2 #8 — no extra limit/count job per iteration).
        prop = (
            edges.join(comp.withColumnRenamed("doc", "a"), "a")
            .groupBy(F.col("b").alias("doc"))
            .agg(F.min("comp").alias("ncomp"))
        )
        nxt = _persist_tracked(
            comp.join(prop, "doc", "left").select(
                "doc",
                F.least("comp", F.coalesce("ncomp", "comp")).alias("comp"),
                (F.coalesce("ncomp", "comp") < F.col("comp"))
                .cast("long")
                .alias("_chg"),
            )
        )
        changed = int(nxt.agg(F.sum("_chg")).collect()[0][0] or 0)
        comp.unpersist()  # superseded frontier (tracked release is a no-op)
        comp = nxt.select("doc", "comp")  # reuses nxt's cache
        it += 1
        if changed == 0:
            break
        if it % 3 == 0:
            # bound lineage depth on high-diameter graphs: without this the
            # plan grows one join per iteration (fine for 2-3-round dup
            # clusters, O(diameter) otherwise). For truly adversarial graphs
            # switch to large-star/small-star — same join shape.
            comp = _persist_tracked(comp.localCheckpoint(eager=True))
    return comp.select(
        F.col("doc").alias("doc_id"),
        F.col("comp").alias("component"),
        (F.col("doc") == F.col("comp")).alias("is_survivor"),
    )


def _q_dedup_components_oracle() -> str:
    pairs_sql = _q_minhash_lsh_pairs("duckdb")
    return f"""
      WITH RECURSIVE
      p AS (SELECT * FROM ({pairs_sql}) t),
      e AS (SELECT doc_a AS a, doc_b AS b FROM p
            UNION SELECT doc_b AS a, doc_a AS b FROM p),
      reach AS (
        SELECT a AS doc, b AS other FROM e
        UNION
        SELECT r.doc, e2.b FROM reach r JOIN e e2 ON r.other = e2.a
      )
      SELECT doc AS doc_id,
             CAST(LEAST(doc, MIN(other)) AS BIGINT) AS component,
             doc = LEAST(doc, MIN(other)) AS is_survivor
      FROM reach GROUP BY doc
    """


def _embed_neardup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame composition instead of the shared-SQL text: the sketch is
    # computed ONCE (a WITH CTE would re-evaluate the UDF per band join),
    # exploded to (vec_id, band_no, band_val) rows, and candidates come from
    # ONE hash equi-join on the compound band key (the 8-way-union SQL the
    # oracle runs is semantically identical but would cost 8 shuffles here).
    # Exact cosine runs vectorized on the deduped candidates only.
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    sk = emb.select(
        "vec_id", F.posexplode(_hp_bands_udf()("embedding")).alias("band_no", "band_val")
    )
    cand = (
        sk.alias("x")
        .join(sk.alias("y"), ["band_no", "band_val"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )
    cos6 = _cos6_udf()
    return (
        cand.join(emb.select(F.col("vec_id").alias("vec_a"),
                             F.col("embedding").alias("_ea")), "vec_a")
        .join(emb.select(F.col("vec_id").alias("vec_b"),
                         F.col("embedding").alias("_eb")), "vec_b")
        .withColumn("cos", cos6("_ea", "_eb"))
        .filter(F.col("cos") >= 0.30)
        .select("vec_a", "vec_b", "cos")
    )


def _multimodal_decode_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL multimodal plumbing (mapInPandas + fake_decode kernel,
    sparkcrawl/multimodal.py) over payloads built deterministically from
    documents.text; the DuckDB oracle replays fake_decode's arithmetic in
    SQL (pure function of the bytes — docs are ASCII, so chars == bytes)."""
    from pyspark.sql import functions as F

    from sparkcrawl.multimodal import process_media

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.length("text") > 0  # same guard as the oracle (empty payload path)
    )
    media = docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.lit("synthetic").alias("media_format"),
    )
    out = process_media(media)
    return out.select(
        "doc_id",
        F.col("media.media_type").alias("media_type"),
        F.col("media.n_bytes").alias("n_bytes"),
        F.col("media.width").alias("width"),
        F.col("media.height").alias("height"),
        F.col("media.duration_ms").alias("duration_ms"),
    )


_MULTIMODAL_DECODE_ORACLE = """
  WITH b AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           list_aggregate(list_transform(
             generate_series(1, least(strlen(text), 64)),
             i -> ord(substr(text, i, 1))), 'sum') + strlen(text) AS h
    FROM documents WHERE strlen(text) > 0)
  SELECT doc_id, media_type, n_bytes,
         CAST(CASE WHEN media_type IN ('image', 'video')
              THEN 16 + h % 1024 END AS INT) AS width,
         CAST(CASE WHEN media_type IN ('image', 'video')
              THEN 16 + (h // 7) % 1024 END AS INT) AS height,
         CAST(CASE WHEN media_type IN ('audio', 'video')
              THEN 100 + h % 600000 END AS INT) AS duration_ms
  FROM b
"""


def _media_ivf_index_dfs(spark: SparkSession,
                         sf_dir: str) -> dict[str, DataFrame]:
    """Build-once media-feature index (VERDICT r3 #7 — close the multimodal
    loop; VERDICT r4 #2 — committed as SnapStore tables, atomic rename
    instead of a ``_DONE``-file gate, superseded dirs expired on rebuild):
    the REAL decode plumbing (multimodal.process_media + fake_decode,
    sparkcrawl/multimodal.py) runs ONCE over payloads built from
    documents.text, and its `media.feature` vectors land in two tables —
    `hist` (doc_id, cell, dim, h: the feature recovered as integer
    byte-histogram counts, dense 16 dims) and `centroids` (cell, dim, c:
    per-media-type fixed-point means, same formula as _ivf_index_df).
    Probe queries scan the persisted index and never re-decode — at 100 TB
    the decode is the expensive one-time job, the probes are cheap scans.
    hist is O(n_docs·16) rows, so it is written repartitioned by doc_id
    hash (multi-task, parallel probe scans by layout); centroids is
    O(cells·16) — single task.

    Integer recovery h = ROUND(feature[dim] * n_bytes) is exact: feature is
    float32(h / n_bytes), so the product's error is < h·2⁻²⁴ < 0.5 for any
    document under 8 MB — and cosine over the integer histograms is
    scale-invariant-equal to cosine over the normalized features while
    staying bit-replayable in the DuckDB oracle (no float32 in sight)."""
    from pyspark.sql import functions as F

    from sparkcrawl.indexstore import ensure_index, index_store
    from sparkcrawl.multimodal import process_media

    src = f"{sf_dir}/documents.parquet"

    def build(store, tables, ident):
        docs = spark.read.parquet(src).filter(F.length("text") > 0)
        media = docs.select(
            "doc_id",
            F.encode("text", "utf-8").alias("payload"),
            F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio")
            .otherwise("video")
            .alias("media_type"),
            F.lit("synthetic").alias("media_format"),
        )
        hist = (
            process_media(media)
            .select(
                "doc_id",
                F.col("media.media_type").alias("cell"),
                F.col("media.n_bytes").alias("n_bytes"),
                F.posexplode("media.feature").alias("dim", "val"),
            )
            .select(
                "doc_id", "cell", "dim",
                F.round(F.col("val").cast("double") * F.col("n_bytes"))
                .cast("bigint").alias("h"),
            )
        )
        store.overwrite(tables["hist"], hist.repartition(8, "doc_id"),
                        meta={"ident": ident})
        store.read(spark, tables["hist"]) \
            .createOrReplaceTempView("_media_hist_b")
        centroids = spark.sql(
            """
            SELECT cell, dim,
                   CAST(SUM(h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
            FROM _media_hist_b GROUP BY cell, dim
            """
        )
        store.overwrite(tables["centroids"], centroids.coalesce(1),
                        meta={"ident": ident})

    tables = ensure_index(spark, "mivf", src, "hist16",
                          ["hist", "centroids"], build)
    store = index_store()
    return {lt: store.read(spark, t) for lt, t in tables.items()}


# Shared IVF probe over the media-feature histograms: nearest-2-of-3 cells
# by fixed-point L2 to the centroids, exact integer-histogram cosine on the
# probed cells only, top-10. `media_hist`/`media_ivf_centroids` are views on
# the persisted index (Spark) or CTE replays of fake_decode's arithmetic
# (DuckDB) — identical values by construction.
_MEDIA_ANN_COS = (
    "ROUND(CAST(d.dot AS DOUBLE) / "
    "(SQRT(CAST(n.nn AS DOUBLE)) * SQRT(CAST(qn.nn AS DOUBLE))), 6)"
)

_MEDIA_ANN_PROBE = f"""
  qh AS (
    SELECT dim, h FROM media_hist
    WHERE doc_id = (SELECT MIN(doc_id) FROM media_hist)),
  dist AS (
    SELECT c.cell,
           SUM(CAST(ROUND((CAST(q.h AS DOUBLE) - c.c)
                          * (CAST(q.h AS DOUBLE) - c.c)
                          * 1000000) AS BIGINT)) AS d_fp
    FROM media_ivf_centroids c JOIN qh q ON c.dim = q.dim
    GROUP BY c.cell),
  probe AS (
    SELECT cell FROM (
      SELECT cell, ROW_NUMBER() OVER (ORDER BY d_fp ASC, cell ASC) AS rk
      FROM dist) t
    WHERE rk <= 2),
  norms AS (
    SELECT doc_id, SUM(h * h) AS nn FROM media_hist GROUP BY doc_id),
  dots AS (
    SELECT m.doc_id, SUM(m.h * q.h) AS dot
    FROM media_hist m
    JOIN probe p ON m.cell = p.cell
    JOIN qh q ON m.dim = q.dim
    GROUP BY m.doc_id)
  SELECT doc_id, cos, rk FROM (
    SELECT d.doc_id AS doc_id, {_MEDIA_ANN_COS} AS cos,
           CAST(ROW_NUMBER() OVER (
             ORDER BY {_MEDIA_ANN_COS} DESC, d.doc_id ASC) AS INT) AS rk
    FROM dots d
    JOIN norms n ON n.doc_id = d.doc_id
    CROSS JOIN (SELECT SUM(h * h) AS nn FROM qh) qn
    WHERE d.doc_id <> (SELECT MIN(doc_id) FROM media_hist)) t
  WHERE rk <= 10
"""


def _media_ann_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over DECODED media features (multimodal → index → probe, end to
    end): probes the persisted media-feature IVF index built by
    :func:`_media_ivf_index_dfs`; the decode kernel never runs inside the
    query. The DuckDB oracle replays fake_decode's byte-histogram arithmetic
    in SQL and computes the identical centroids/probe inline."""
    idx = _media_ivf_index_dfs(spark, sf_dir)
    idx["hist"].createOrReplaceTempView("media_hist")
    idx["centroids"].createOrReplaceTempView("media_ivf_centroids")
    return spark.sql("WITH " + _MEDIA_ANN_PROBE)


_MEDIA_ANN_ORACLE = f"""
  WITH base AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS cell,
           text
    FROM documents WHERE strlen(text) > 0),
  dims AS (SELECT UNNEST(generate_series(0, 15)) AS dim),
  ch AS (
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, strlen(text)),
                                 i -> ord(substr(text, i, 1)) % 16)) AS k
    FROM base),
  sparse AS (
    SELECT doc_id, k AS dim, CAST(COUNT(*) AS BIGINT) AS h
    FROM ch GROUP BY doc_id, k),
  media_hist AS (
    SELECT b.doc_id, b.cell, d.dim, COALESCE(s.h, 0) AS h
    FROM base b CROSS JOIN dims d
    LEFT JOIN sparse s ON s.doc_id = b.doc_id AND s.dim = d.dim),
  media_ivf_centroids AS (
    SELECT cell, dim, CAST(SUM(h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
    FROM media_hist GROUP BY cell, dim),
  {_MEDIA_ANN_PROBE}
"""


def _canonicalize_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sparkcrawl.udfs import canonicalize_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = F.concat(
        F.lit("HTTP://Ex.com:80/docs/"), F.col("source"),
        F.lit("?b=2&a=1&Id="), F.col("doc_id").cast("string"), F.lit("#frag"),
    )
    return docs.select("doc_id", canonicalize_udf(raw).alias("canon_url"))


def _drain_available_now(spark: SparkSession, sf_dir: str, prefix: str,
                         transform, output_mode: str) -> DataFrame:
    """Shared harness for the §2.10 streaming gates: stage the single-file
    events table behind a symlink drop dir (FileStreamSource requires a
    DIRECTORY — in production the events land as files under one), apply
    ``transform`` to the watermark-ready stream, drain it AvailableNow into
    a memory sink, and return the drained table. One definition so a fix to
    the staging/checkpoint handling can't reach one twin and miss the
    other."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    src = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(src).schema
    name = prefix + uuid.uuid4().hex[:8]
    # staging + checkpoint on tmpfs: the sandbox VM disk has bursty
    # writeback latency, and a streaming checkpoint is many tiny fsynced
    # files — the same rationale as the bench store (a real deployment
    # checkpoints to fast shared storage)
    tmp_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    stream_dir = tempfile.mkdtemp(prefix="sparkcrawl_streamsrc_",
                                  dir=tmp_base)
    os.symlink(os.path.abspath(src), os.path.join(stream_dir, "events.parquet"))
    stream = transform(
        spark.readStream.schema(schema)
        .format("parquet")
        .load(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )
    ckpt_dir = tempfile.mkdtemp(prefix="sparkcrawl_ckpt_", dir=tmp_base)
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the drained rows live in the memory sink; the one-shot staging dir
    # and checkpoint (now on tmpfs) are dead weight once the query ends
    import shutil

    shutil.rmtree(ckpt_dir, ignore_errors=True)
    shutil.rmtree(stream_dir, ignore_errors=True)
    return spark.table(name)


def _stream_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 streaming correctness, driver-gated (VERDICT r2 #7): an
    AvailableNow Structured Streaming dedup over the events table must equal
    batch DISTINCT (the DuckDB oracle). The shape is the streaming seen-set:
    event-time watermark + dropDuplicatesWithinWatermark (bounded state —
    sparkcrawl/streaming.py uses the same operator over pages). Emitting
    only the key column makes the result set deterministic regardless of
    intra-batch arrival order."""
    return _drain_available_now(
        spark, sf_dir, "stream_dedup_",
        lambda s: s.dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id"),
        output_mode="append",
    )


_STREAM_DEDUP_ORACLE = """
  SELECT DISTINCT user_id FROM events
"""


def _stream_window_counts_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 streaming windowed aggregation, driver-gated: an AvailableNow
    stream over the events table with an event-time watermark and 1-hour
    tumbling windows must equal the batch date_trunc GROUP BY (the DuckDB
    oracle) — the streaming twin of the crawl's per-round throughput
    counters (sparkcrawl/streaming.py::hourly_host_counts uses the same
    operator over pages). ``complete`` output mode makes windows still open
    at end-of-data emit, so the drained result is the full history. Values
    are summed as exact integer cents so arrival order can't perturb
    float accumulation across engines."""
    from pyspark.sql import functions as F

    def agg(s: DataFrame) -> DataFrame:
        return (
            s.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("value") * 100).cast("bigint")
                ).alias("cents"),
            )
            .select(
                F.col("win.start").alias("hour"),
                "event_type",
                F.col("n").cast("bigint").alias("n"),
                (F.col("cents").cast("double") / F.lit(100.0)).alias(
                    "sum_value"),
            )
        )

    return _drain_available_now(
        spark, sf_dir, "stream_wincounts_", agg, output_mode="complete")


_STREAM_WINDOW_COUNTS_ORACLE = """
  SELECT date_trunc('hour', ts) AS hour, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
"""


def _stream_stateful_totals_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 custom stateful streaming, driver-gated: an applyInPandasWithState
    operator carrying per-user running totals (event count + integer-cents
    value sum) across microbatches must end at the batch GROUP BY totals
    (the DuckDB oracle) — the driver-visible twin of
    streaming.stateful_host_progress (pytest-only until now). Update mode
    emits one row per key per microbatch, so the drained table is a
    batching-dependent PREFIX history; the totals are monotone (counts
    always, cents because value > 0 in this table), so MAX per key
    recovers the final state deterministically under ANY batch split.
    Cents quantize JVM-side (ROUND(value*100) BEFORE the pandas worker —
    numpy rounds half-to-even, SQL half-away-from-zero)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("cents", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("n_events", T.LongType()),
        T.StructField("cents", T.LongType()),
    ])

    def update(key, pdf_iter, state: GroupState):
        n = 0
        cents = 0
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int(pdf["cents"].sum())
        if state.exists:
            pn, pc = state.get
        else:
            pn, pc = 0, 0
        state.update((pn + n, pc + cents))
        yield pd.DataFrame({"user_id": [key[0]],
                            "n_events": [pn + n], "cents": [pc + cents]})

    def transform(s: DataFrame) -> DataFrame:
        return (
            s.select("user_id", "ts",
                     F.round(F.col("value") * 100).cast("bigint")
                     .alias("cents"))
            .groupBy("user_id")
            .applyInPandasWithState(
                update, out_schema, state_schema, "update",
                GroupStateTimeout.NoTimeout)
        )

    drained = _drain_available_now(
        spark, sf_dir, "stream_stateful_", transform, output_mode="update")
    return (drained.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"),
                 (F.max("cents").cast("double") / F.lit(100.0))
                 .alias("sum_value")))


_STREAM_STATEFUL_TOTALS_ORACLE = """
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS sum_value
  FROM events GROUP BY user_id
"""


def _approx_users_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 approximate distinct with a BOUNDED-ERROR oracle (VERDICT r4 #1):
    the HLL estimate itself can never hash-match an exact engine, so the
    checked row is (exact_users, approx_ok) — Spark computes BOTH
    ``approx_count_distinct`` (rsd 0.015) and the exact ``count_distinct``
    in one aggregate, and ``approx_ok`` asserts |approx − exact| ≤ 5% · exact.
    The sketch precision is configured, not defaulted: at Spark's default
    rsd 0.05 the 5% band is only ~1σ and the estimate measurably misses it
    (sf0.1: est 1400 vs exact 1500, −6.7%); at rsd 0.015 the band is >3σ,
    so a pass means the sketch works as published, not luck (measured
    15/15, 150/150, 1506/1500 across the three SFs).
    The DuckDB oracle emits the exact count and a literal 1: the driver's
    hash therefore verifies the exact count cross-engine AND that the HLL
    estimate sits inside its error bound — a real check, unlike the
    rows-only exemption this entry carried through rounds 1–4."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.agg(
        F.count_distinct("user_id").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.015).alias("_approx"),
    ).select(
        "exact_users",
        F.when(
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("int").alias("approx_ok"),
    )


_APPROX_USERS_ORACLE = """
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
         CAST(1 AS INT) AS approx_ok
  FROM events
"""


# BPE tokenizer training: number of merge rules to learn. 12 is past the
# point where merges start consuming earlier merges on the test corpus
# (step 8 merges 'p'+'ar', step 9 'm'+'er', step 12 'c'+'an'), so the
# iterative recurrence is genuinely exercised, not just a static pair
# count — while keeping the 12 sequential driver-paced jobs (~0.3 s fixed
# cost each on this sandbox, volume-independent) off the suite's critical
# path. At the design point the same 12 jobs run over a ~10^7-row vocab —
# still seconds, because the corpus-sized work happened once in wc.
_BPE_K = 12


def _q_bpe_merges_oracle() -> str:
    """DuckDB oracle for ``bpe_merges``: the identical ``_BPE_K``-step merge
    recurrence as chained MATERIALIZED CTEs — each step's argmax pair
    (count DESC, lhs ASC, rhs ASC) feeds the next step's merged state.
    MATERIALIZED is load-bearing: every state CTE is referenced twice
    (next pair count + next merge), so plain CTEs inline 2^K copies of
    the corpus scan — the same recompute hazard the Spark-side DataFrame
    twins exist for."""
    ctes = [
        """wc AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS word
            FROM documents) w
      WHERE word <> '' GROUP BY word)""",
        r"""s0 AS MATERIALIZED (
      SELECT regexp_replace(word, '(.)', '<\1>', 'g') AS st, c FROM wc)""",
    ]
    sels = []
    for k in range(1, _BPE_K + 1):
        ctes.append(f"""p{k} AS MATERIALIZED (
      SELECT string_split(pr, ' ')[1] AS lhs,
             string_split(pr, ' ')[2] AS rhs,
             CAST(SUM(c) AS BIGINT) AS pair_count
      FROM (SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
                          i -> sy[i] || ' ' || sy[i+1])) AS pr, c
            FROM (SELECT string_split(substr(st, 2, length(st) - 2), '><')
                         AS sy, c
                  FROM s{k - 1}) t)
      GROUP BY lhs, rhs
      ORDER BY pair_count DESC, lhs ASC, rhs ASC
      LIMIT 1)""")
        if k < _BPE_K:
            ctes.append(f"""s{k} AS MATERIALIZED (
      SELECT replace(st, '<' || lhs || '><' || rhs || '>',
                     '<' || lhs || rhs || '>') AS st, c
      FROM s{k - 1} CROSS JOIN p{k})""")
        sels.append(
            f"SELECT CAST({k} AS INT) AS step, lhs, rhs, pair_count "
            f"FROM p{k}")
    return ("WITH " + ",\n".join(ctes) + "\nSELECT * FROM ("
            + "\nUNION ALL ".join(sels) + ") u ORDER BY step")


def _bpe_word_counts(spark: SparkSession) -> DataFrame:
    """bpe_merges' ONLY corpus-sized stage: word frequencies in one
    partial-agg shuffle of the slim (word, count) space — the exploded
    text column itself never shuffles (plan-pinned in
    tests/test_planshape.py)."""
    from pyspark.sql import functions as F

    return (
        spark.table("documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def _bpe_merges_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: learn the first ``_BPE_K``
    merge rules from the corpus (the Sennrich 2016 "Neural Machine
    Translation of Rare Words with Subword Units" subword algorithm,
    reimplemented from the published description). The scale shape is how real distributed tokenizer
    training works: the ONLY corpus-sized work is the word-count aggregate
    (one partial-agg shuffle of (word, count) — text itself never
    shuffles); every merge iteration then runs over the persisted
    VOCABULARY (|distinct words| rows — broadcast-sized even at 100 TB,
    where a web corpus has ~10^7 distinct words vs ~10^13 tokens), with
    the argmax pair pulled driver-side exactly like the k-means centroid
    pattern. Symbol sequences are '<sym>'-delimited strings; merging is
    left-to-right non-overlapping string replace — the standard greedy
    BPE merge — and pair counting is a sliding window over the symbol
    array, identical on both engines, so the learned merge table is
    bit-exact vs the DuckDB oracle (property-tested over random corpora
    in tests/test_queries.py). Ties break (count DESC, lhs, rhs).
    Assumption: corpus words never contain the '<'/'>' symbol markers —
    true of split(text, ' ') tokens here; a general deployment would
    strip or remap them in the word-count pass.

    Replaces nothing in the reference (public-Scrapy has no tokenizer);
    battery-side training-data op per the builder brief."""
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    wc = _persist_tracked(_bpe_word_counts(spark))
    st = wc.select(F.regexp_replace("word", "(.)", "<$1>").alias("st"), "c")
    # bind the symbol array once; guard the 1-symbol case (Spark's
    # sequence(1, 0) DESCENDS — the short-document lesson)
    pair_expr = (
        "flatten(transform(array(split(substring(st, 2, length(st) - 2), "
        "'><')), sy -> CASE WHEN size(sy) >= 2 THEN "
        "transform(sequence(1, size(sy) - 1), "
        "i -> named_struct('lhs', element_at(sy, i), "
        "'rhs', element_at(sy, i + 1))) "
        "ELSE CAST(array() AS ARRAY<STRUCT<lhs: STRING, rhs: STRING>>) "
        "END))"
    )
    rows: list[tuple[int, str, str, int]] = []
    for k in range(1, _BPE_K + 1):
        top = (
            st.select(F.explode(F.expr(pair_expr)).alias("p"), "c")
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("c").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            break  # pairs exhausted — the oracle's CTEs go empty the same way
        lhs, rhs = top[0]["lhs"], top[0]["rhs"]
        rows.append((k, lhs, rhs, int(top[0]["pair_count"])))
        if k < _BPE_K:
            st = st.select(
                F.replace(
                    F.col("st"),
                    F.lit(f"<{lhs}><{rhs}>"),
                    F.lit(f"<{lhs}{rhs}>"),
                ).alias("st"),
                "c",
            )
    return spark.createDataFrame(
        rows, "step int, lhs string, rhs string, pair_count long"
    ).orderBy("step")


def _paragraph_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame twin of the shared SQL: the WITH ch AS (...) subquery feeds
    # both the docfreq aggregation and the join-back side, and Spark inlines
    # CTEs — the plain SQL plan scans+explodes the text column TWICE (plan
    # audit round 4: 4 parquet scans). Explode ONCE, persist the (doc_id,
    # chunk) set, then aggregate + join against the persisted sketch — at
    # 100 TB the text pass is the dominant cost and must happen exactly once.
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    ch = _persist_tracked(spark.sql(_paragraph_chunks_ex("spark")))
    freq = ch.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("docfreq"))
    shared = F.sum(F.when(F.col("docfreq") > 1, 1).otherwise(0))
    return (
        ch.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"),
             shared.cast("long").alias("n_shared_chunks"),
             F.sum(F.when(F.col("docfreq") > 1, 10).otherwise(0))
             .cast("long").alias("dup_tokens"))
        .filter(F.col("n_shared_chunks") > 0)
        .select("doc_id", "n_chunks", "n_shared_chunks", "dup_tokens")
    )


def _lm_perplexity_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame twin of the shared SQL: the tok CTE feeds cnt, and cnt feeds
    # both tot and the score join, so Spark's CTE inlining would explode the
    # text column THREE times. The real CCNet shape is two passes — pass 1
    # trains the unigram LM (one groupBy shuffle, vocab-sized result,
    # persisted), pass 2 re-streams the tokens through a hash join against
    # the persisted vocab (AQE broadcasts it while the head fits) into the
    # per-doc aggregate. The total-token scalar is read off the persisted
    # vocab driver-side (one pre-aggregated row, same pattern as the crawl's
    # counter collects). Identical double ops as the oracle: -ln(c/N)
    # averaged, then round(…, 6) / round(exp(…), 6).
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    tok = spark.table("documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token"))
    cnt = _persist_tracked(
        tok.groupBy("token").agg(F.count("*").alias("c")))
    n = float(cnt.agg(F.sum("c")).collect()[0][0])
    nll = F.avg(-F.log(F.col("c").cast("double") / F.lit(n)))
    return (
        tok.join(cnt, "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), nll.alias("nll_raw"))
        .select(
            "doc_id", "n_tokens",
            F.round("nll_raw", 6).alias("nll"),
            F.round(F.exp("nll_raw"), 6).alias("ppl"),
        )
    )


def _dsir_weights_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame twin of the shared SQL: the tok CTE feeds cnt AND the score
    # join, and cnt feeds tot, so Spark's CTE inlining would explode the
    # text column three times. Same two-pass shape as _lm_perplexity_spark:
    # pass 1 trains both unigram LMs in one groupBy (vocab-sized result,
    # persisted), smoothing totals read off the persisted vocab driver-side
    # (one pre-aggregated row), pass 2 re-streams the tokens through a hash
    # join against the vocab (AQE broadcasts it while the head fits).
    # Per-token micro-nat quantization BEFORE the BIGINT sum keeps the
    # result bit-exact vs the DuckDB oracle under any partitioning.
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    tok = spark.table("documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
    cnt = _persist_tracked(
        tok.groupBy("token").agg(
            F.count("*").alias("c_all"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
             .alias("c_tgt")))
    n_all, n_tgt, v = cnt.agg(
        F.sum("c_all").cast("double"),
        F.sum("c_tgt").cast("double"),
        F.count("*").cast("double")).collect()[0]
    lr = (
        F.log((F.col("c_tgt").cast("double") + 1.0) / F.lit(n_tgt + v))
        - F.log((F.col("c_all").cast("double") + 1.0) / F.lit(n_all + v)))
    micro = F.round(lr * 1000000.0).cast("long")
    return (
        tok.join(cnt, "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"),
             F.sum(micro).cast("long").alias("lr_micro"))
        .select("doc_id", "n_tokens", "lr_micro",
                (F.col("lr_micro").cast("double") / 1000000.0)
                .alias("weight"))
    )


def _host_quality_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame twin of the shared SQL: the doc CTE feeds both the src
    # aggregate and the join-back side, so the inlined SQL plan would run
    # the text→token-count pass twice. Project the slim (doc_id, source,
    # n_tok) columns ONCE, persist them, aggregate the tiny per-source
    # reputation table, read the corpus average off it driver-side, and
    # broadcast the reputation table back onto the persisted projection —
    # at 100 TB the text pass happens exactly once and the join adds no
    # shuffle.
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    doc = _persist_tracked(spark.table("documents").select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok")))
    src = doc.groupBy("source").agg(
        F.count("*").alias("src_docs"),
        F.sum("n_tok").alias("src_tok"),
        F.sum(F.when(F.col("n_tok") < 10, 1).otherwise(0))
         .alias("src_short"))
    tot_tok, tot_docs = src.agg(
        F.sum("src_tok").cast("double"),
        F.sum("src_docs").cast("double")).collect()[0]
    corpus_avg = tot_tok / tot_docs
    avg = F.col("src_tok").cast("double") / F.col("src_docs").cast("double")
    return (
        doc.join(F.broadcast(src), "source")
        .select(
            "doc_id", "source", "src_docs",
            F.round(avg, 6).alias("src_avg_tokens"),
            F.round(F.col("src_short").cast("double")
                    / F.col("src_docs").cast("double"), 6)
             .alias("src_short_frac"),
            (avg >= F.lit(corpus_avg)).alias("kept"))
    )


def _pagerank_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame twin of the shared SQL: nested rank CTEs inline the edges
    # CTE (and the docs scan under it) into every iteration — the plain SQL
    # plan re-scanned documents 72× for 5 iterations (plan audit round 4).
    # Build the edge table ONCE, persist it, and chain the 5 iterations as
    # joins against the persisted edges: per iteration exactly one equi-join
    # shuffle + one partial-agg shuffle, the shape the in-code rationale
    # promises. Arithmetic is the identical fixed-point integer recurrence,
    # so the result stays bit-exact vs the DuckDB oracle.
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    docs = _persist_tracked(spark.table("documents").select("doc_id"))
    n = docs.count()  # scalar build step, like the IVF centroid count
    e1 = docs.select(F.col("doc_id").alias("src"),
                     F.expr(f"(doc_id * doc_id + 1) % {n}").alias("dst"))
    e2 = docs.select(F.col("doc_id").alias("src"),
                     F.expr("doc_id DIV 2").alias("dst"))
    e3 = docs.select(F.col("doc_id").alias("src"),
                     F.expr(f"(13 * doc_id + 7) % {n}").alias("dst"))
    edges = _persist_tracked(e1.unionByName(e2).unionByName(e3))
    r = docs.select("doc_id", F.lit(1000000).cast("long").alias("pr"))
    for _ in range(5):
        s = (edges.join(r, edges.src == r.doc_id)
             .select(edges.dst, F.expr("pr DIV 3").alias("c"))
             .groupBy("dst").agg(F.sum("c").alias("c")))
        r = (docs.join(s, docs.doc_id == s.dst, "left")
             .select(docs.doc_id,
                     F.expr("CAST(150000 + (850 * COALESCE(c, 0)) DIV 1000 "
                            "AS BIGINT)").alias("pr")))
    return (r.orderBy(F.desc("pr"), F.asc("doc_id")).limit(20)
            .select("doc_id", F.col("pr").alias("pr_micro")))


def _kmeans_embed_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame twin of the shared SQL: the ev CTE feeds every distance AND
    # every update round, so Spark's CTE inlining would re-explode the
    # embedding table 5× (plan audit: the plain SQL runs 11 parquet scans
    # for 3 iterations). The Lloyd's shape a cluster actually wants:
    # quantize ONCE into a persisted array<long> column, carry the k×64
    # centroid table driver-side (8×64 ints — the same scalar-build-step
    # pattern as the IVF centroid count), fold assignment map-side against
    # centroid LITERALS (zip_with, no join, no shuffle), and spend the one
    # shuffle per iteration on the update's partial agg. Arithmetic is the
    # identical integer recurrence, so the result is bit-exact vs DuckDB.
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    q = _persist_tracked(spark.table("embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> "
               "CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 1000000)"
               ).alias("q")))
    cent = {int(r["vec_id"]): list(r["q"])
            for r in q.filter("vec_id < 8").collect()}

    def d2(arr: list[int]) -> str:
        lit = "array(" + ",".join(f"{v}L" for v in arr) + ")"
        return (f"aggregate(zip_with(q, {lit}, (x, y) -> (x - y) * (x - y)), "
                "0L, (acc, v) -> acc + v)")

    assigned = None
    for it in range(3):
        structs = ", ".join(
            f"named_struct('d2', {d2(cent[cid])}, 'cid', {cid})"
            for cid in sorted(cent))
        # array_min over array<struct<d2,cid>> = lexicographic min =
        # the shared SQL's ROW_NUMBER (d2 ASC, cid ASC) tie-break
        assigned = q.select(
            "vec_id", "q",
            F.expr(f"array_min(array({structs}))").alias("best"))
        if it < 2:
            upd = (assigned
                   .select(F.col("best.cid").alias("cid"),
                           F.posexplode("q").alias("dim", "v"))
                   .groupBy("cid", "dim")
                   .agg(F.expr("CAST(SUM(v) DIV COUNT(*) AS BIGINT)")
                        .alias("c"))
                   .collect())
            nxt = {cid: list(vs) for cid, vs in cent.items()}
            for r in upd:
                nxt[int(r["cid"])][int(r["dim"])] = int(r["c"])
            cent = nxt
    return assigned.select(
        "vec_id",
        F.col("best.cid").cast("int").alias("cluster"),
        F.col("best.d2").alias("d2_fp"))


def _winnowing_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame twin of the shared SQL: the g CTE feeds n, wm AND the
    # short-doc branch, so Spark's CTE inlining would shingle-explode the
    # text column three times. Explode ONCE into the slim (doc_id, pos, h)
    # hash stream, persist it, and run the count/window/min branches off
    # the persisted stream — at 100 TB only the 8-byte hashes shuffle
    # (once, on doc_id), never the text.
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    release_cached()
    register_views(spark, sf_dir)
    guard = "length(text) - length(replace(text, ' ', '')) >= 2"
    # same lazy-CASE wrap as the shared SQL (see _q_winnowing): the guard
    # alone does not order before the collapsed shingle projection
    sh = (f"CASE WHEN {guard} THEN {_shingles('spark')} "
          "ELSE CAST(array() AS ARRAY<STRING>) END")
    h = _tokhash("spark", "sh")
    g = _persist_tracked(spark.sql(
        f"SELECT doc_id, pos, {h} AS h "
        f"FROM (SELECT doc_id, {sh} AS ss FROM documents WHERE {guard}) s "
        "LATERAL VIEW posexplode(ss) t AS pos, sh"))
    n = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    full = (g.select("doc_id", "pos", F.min("h").over(w).alias("fp"))
            .join(n, "doc_id")
            .filter((F.col("cnt") >= 4) & (F.col("pos") <= F.col("cnt") - 4))
            .select("doc_id", "fp").distinct())
    short = (g.join(n.filter(F.col("cnt") < 4), "doc_id")
             .groupBy("doc_id").agg(F.min("h").alias("fp")))
    return full.unionByName(short)


def _mixture_weights_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame twin of the shared SQL: the tok CTE feeds both the
    # per-language aggregate and the final join, so the inlined plan runs
    # the text→token-count pass twice. Project the slim (doc_id, lang,
    # n_tok) columns ONCE, persist them, read the 5-row language table
    # driver-side (pre-aggregated, same pattern as the crawl's counter
    # collects), and broadcast the weights back onto the persisted
    # projection — one text pass, no shuffle on the join.
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    tok = _persist_tracked(spark.table("documents").select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok")))
    rows = tok.groupBy("lang").agg(F.sum("n_tok").alias("lang_tok")).collect()
    all_tok = sum(int(r["lang_tok"]) for r in rows)
    n_langs = len(rows)
    # Python // ≡ the SQL DIV here: every operand is non-negative
    w = spark.createDataFrame(
        [(r["lang"], (all_tok * 1000000) // (n_langs * int(r["lang_tok"])))
         for r in rows],
        "lang string, weight_micro long")
    hexp = _tokhash("spark", "CAST(doc_id AS STRING)")
    return (tok.join(F.broadcast(w), "lang")
            .select("doc_id", "lang",
                    F.col("n_tok").alias("n_tokens"),
                    "weight_micro",
                    F.expr("CAST(weight_micro DIV 1000000 + CASE WHEN "
                           f"({hexp}) % 1000000 < weight_micro % 1000000 "
                           "THEN 1 ELSE 0 END AS INT)").alias("n_repeats")))


def _bm25_search_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame twin of the shared SQL: the d CTE feeds both the corpus
    # stats and the scoring side, so the inlined plan would split the text
    # 8× across two passes. Split ONCE into a persisted slim (doc_id, dl,
    # tf0..tf2) projection, read the 1-row stats aggregate driver-side, and
    # inline n/df/avgdl as LITERALS in the scoring expression — textually
    # identical ROUND/division formula as the shared SQL, so Spark computes
    # the same doubles and the result stays bit-exact vs DuckDB. At 100 TB:
    # one text pass, one tiny agg, one top-k — no join at all.
    from pyspark.sql import functions as F

    release_cached()
    register_views(spark, sf_dir)
    tf_cols = [
        F.expr(f"CAST(size(filter(w, x -> x = '{t}')) AS BIGINT)")
        .alias(f"tf{i}")
        for i, t in enumerate(_BM25_TERMS)]
    d = _persist_tracked(
        spark.table("documents")
        .select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id",
                F.expr("CAST(size(w) AS BIGINT)").alias("dl"), *tf_cols))
    g = d.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tot_dl"),
        *[F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
          for i in range(len(_BM25_TERMS))]).collect()[0]
    n, tot_dl = int(g["n"]), int(g["tot_dl"])
    terms = []
    for i in range(len(_BM25_TERMS)):
        dfi = int(g[f"df{i}"])
        # same expression text as _q_bm25_search with g.* replaced by
        # integer literals — ROUND and the divisions stay engine-side
        idf = (f"CAST(ROUND(1000000.0 * (CAST({n} AS DOUBLE) "
               f"- CAST({dfi} AS DOUBLE) + 0.5) "
               f"/ (CAST({dfi} AS DOUBLE) + 0.5)) AS BIGINT)")
        tfn = (f"CAST(ROUND(1000000.0 * CAST(tf{i} AS DOUBLE) * 2.2 "
               f"/ (CAST(tf{i} AS DOUBLE) + 1.2 * (0.25 "
               f"+ 0.75 * CAST(dl AS DOUBLE) "
               f"/ (CAST({tot_dl} AS DOUBLE) / CAST({n} AS DOUBLE))))) "
               "AS BIGINT)")
        terms.append(f"(({idf}) * ({tfn}) DIV 1000000)")
    score = " + ".join(terms)
    from pyspark.sql.window import Window
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return (d.select("doc_id", "dl", F.expr(score).alias("score_micro"))
            .select("doc_id", "dl", "score_micro",
                    F.row_number().over(w).cast("int").alias("rk"))
            .filter(F.col("rk") <= 20))



# ---------------------------------------------------------------------------
# the battery registry: one entry per query
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Query:
    """One battery entry. ``sql`` is the shared dialect-parameterized
    builder (engine -> SQL text): it fills the DuckDB oracle and, unless
    ``twin`` overrides it, the Spark side. A ``twin`` is a hand-built
    DataFrame plan for where Spark's CTE inlining would recompute an
    expensive sketch or text pass, or where the Spark side is not SQL at
    all (UDF kernel, streaming gate, persisted-index probe, iterative
    loop); it returns the same rows as the oracle. An entry with no shared
    builder gives its ``oracle`` text directly."""

    what: str  # one-line description (QUERIES.md)
    sql: Callable[[str], str] | None = None
    twin: Callable[[SparkSession, str], DataFrame] | None = None
    oracle: str | None = None

    def spark_fn(self) -> Callable[[SparkSession, str], DataFrame]:
        if self.twin is not None:
            return self.twin

        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            register_views(spark, sf_dir)
            return spark.sql(self.sql("spark"))

        return run

    def oracle_sql(self) -> str:
        return self.oracle if self.sql is None else self.sql("duckdb")


_TPCH = "TPC-H Q{} over the relational testdata tables"

# Written in driver_window_order() over CORRECTNESS_r01–r05, so a checkout
# without those records still puts the stalest entries in the window.
REGISTRY: dict[str, Query] = {
    "tpch_q8": Query(_TPCH.format(8), _q_tpch_q8),
    "tpch_q9": Query(_TPCH.format(9), _q_tpch_q9),
    "tpch_q11": Query(_TPCH.format(11), _q_tpch_q11),
    "tpch_q12": Query(_TPCH.format(12), _q_tpch_q12),
    "tpch_q13": Query(_TPCH.format(13), _q_tpch_q13),
    "tpch_q16": Query(_TPCH.format(16), _q_tpch_q16),
    "tpch_q17": Query(_TPCH.format(17), _q_tpch_q17),
    "tpch_q20": Query(_TPCH.format(20), _q_tpch_q20),
    "tpch_q15": Query(_TPCH.format(15), _q_tpch_q15),
    "tpch_q19": Query(_TPCH.format(19), _q_tpch_q19),
    "tpch_q22": Query(_TPCH.format(22), _q_tpch_q22),
    "top_terms": Query(
        "corpus top-k terms with deterministic tie-break (map-side combine)",
        _q_top_terms),
    "stratified_sample": Query(
        "hash-mod stratified sample (shuffle-free, cluster-size-invariant)",
        _q_stratified_sample),
    "repetition_ratio": Query(
        "Gopher repetition signal (repeated-line/ngram ratios per doc)",
        _q_repetition_ratio),
    "tpch_q4": Query(_TPCH.format(4), _q_tpch_q4),
    "tpch_q7": Query(_TPCH.format(7), _q_tpch_q7),
    "tpch_q10": Query(_TPCH.format(10), _q_tpch_q10),
    "tpch_q14": Query(_TPCH.format(14), _q_tpch_q14),
    "tpch_q5": Query(_TPCH.format(5), _q_tpch_q5),
    "minhash_signatures": Query(
        "8-fn MinHash signatures over 3-gram shingles", _q_minhash_signatures),
    "ann_ivf": Query(
        "IVF single-probe ANN (coarse cell prune + exact cosine)", _q_ann_ivf),
    "token_stats": Query(
        "token counts: whitespace + BPE-ish regex (one text pass)",
        _q_token_stats),
    "langid": Query("n-gram-heuristic language ID over documents", _q_langid),
    "doc_fingerprint": Query(
        "rolling-hash document fingerprints", _q_doc_fingerprint),
    "depth_histogram": Query(
        "crawl-depth histogram (groupBy count)", _q_depth_histogram),
    "union_distinct": Query(
        "union of two event slices + distinct", _q_union_distinct),
    "intersect_users": Query(
        "INTERSECT of two user sets", _q_intersect_users),
    "embed_norms": Query(
        "embedding L2 norms (vectorized aggregate over array column)",
        _q_embed_norms),
    "canonicalize": Query(
        "URL canonicalization kernel parity over the documents table",
        twin=_canonicalize_spark, oracle=_CANONICALIZE_ORACLE),
    "perhost_topk": Query(
        "per-host top-k by priority (the P3 budget window shape)",
        _q_perhost_topk),
    "priority_order": Query(
        "deterministic global priority order with rank (O1)",
        _q_priority_order),
    "status_counts": Query(
        "events per type (scan + groupBy count, map-side combine)",
        _q_status_counts),
    "broadcast_join": Query(
        "fact-to-tiny-dim join (broadcast hash join, no fact shuffle)",
        _q_broadcast_join),
    "json_extract": Query(
        "JSON field extraction + filter over event payloads", _q_json_extract),
    "quality_score": Query(
        "heuristic doc quality: length/punct/stopword ratios (one text pass)",
        _q_quality_score),
    "simhash": Query(
        "16-bit SimHash near-dup buckets (bit-majority over token hashes)",
        _q_simhash),
    "embed_neardup": Query(
        "SRP-LSH embedding near-dup (8x4-bit hyperplane sketch + exact "
        "cosine verify)", _q_embed_neardup, twin=_embed_neardup_spark),
    "ngram_jaccard": Query(
        "banded-candidate n-gram Jaccard near-dup (exact verify on "
        "candidates only)", _q_ngram_jaccard, twin=_ngram_jaccard_spark),
    "seen_antijoin": Query(
        "users with views but no high-value purchase (NOT EXISTS anti-join; "
        "pushed predicate)", _q_seen_antijoin),
    "gopher_rules": Query(
        "Gopher composite quality rules: 5 signals + keep/drop verdict (one "
        "map-only text pass)", _q_gopher_rules),
    "approx_users": Query(
        "HLL approx_count_distinct with a bounded-error check (exact count "
        "+ estimate within ±5%)",
        twin=_approx_users_spark, oracle=_APPROX_USERS_ORACLE),
    "bpe_merges": Query(
        f"distributed BPE tokenizer training: first {_BPE_K} merge rules "
        "(one corpus shuffle, vocab-sized iterations)",
        twin=_bpe_merges_spark, oracle=_q_bpe_merges_oracle()),
    "tpch_q21": Query(_TPCH.format(21), _q_tpch_q21),
    "tpch_q2": Query(_TPCH.format(2), _q_tpch_q2),
    "asof_join": Query(
        "as-of join: latest purchase at or before each view, per user",
        _q_asof_join),
    "range_join": Query(
        "range join: per purchase, the same user's clicks in the next 24 h",
        _q_range_join),
    "boilerplate_ngrams": Query(
        "5-gram doc-frequency boilerplate detection (split-once shingle "
        "explode)", _q_boilerplate_ngrams),
    "contamination": Query(
        "benchmark n-gram decontamination (semi-join of doc shingles vs "
        "probe set)", _q_contamination),
    "tfidf_top_terms": Query(
        "tf-idf top terms with rational idf (integer fixed point)",
        _q_tfidf_top_terms),
    "pack_sequences": Query(
        "greedy sequence packing into fixed token budgets "
        "(hash-deterministic)", _q_pack_sequences),
    "lm_perplexity": Query(
        "CCNet-style unigram-LM perplexity score (two-pass, micro-nat fixed "
        "point)", _q_lm_perplexity, twin=_lm_perplexity_spark),
    "dsir_weights": Query(
        "DSIR importance weights: hashed-ngram likelihood ratio vs target",
        _q_dsir_weights, twin=_dsir_weights_spark),
    "host_quality": Query(
        "per-host reputation aggregate joined back as a doc filter",
        _q_host_quality, twin=_host_quality_spark),
    "filter_funnel": Query(
        "pipeline retention funnel across quality/dedup stages",
        _q_filter_funnel),
    "pii_redact": Query(
        "PII detection + redaction (emails, phone numbers, IPv4)",
        _q_pii_redact),
    "dup_spans": Query(
        "exact-substring span dedup (repeated 3-gram spans per doc)",
        _q_dup_spans, twin=_dup_spans_spark),
    "shard_assign": Query(
        "deterministic global shuffle + training-shard assignment",
        _q_shard_assign),
    "pagerank": Query(
        "5-iteration PageRank over the synthetic link graph (edges built "
        "once)", _q_pagerank, twin=_pagerank_spark),
    "paragraph_dedup": Query(
        "paragraph-level exact dedup (hash-groupBy at paragraph granularity)",
        _q_paragraph_dedup, twin=_paragraph_dedup_spark),
    "ann_pq": Query(
        "product-quantization ANN probe against the persisted codes index",
        _q_ann_pq, twin=_ann_pq_spark),
    "semdedup": Query(
        "SemDeDup: cluster embeddings, then cosine dedup within clusters",
        _q_semdedup),
    "kmeans_embed": Query(
        "Lloyd's k-means over the embedding table (k=8, unrolled rounds)",
        _q_kmeans_embed, twin=_kmeans_embed_spark),
    "winnowing": Query(
        "winnowing document fingerprints (window-minimum 3-gram hashes)",
        _q_winnowing, twin=_winnowing_spark),
    "mixture_weights": Query(
        "domain-mixture resampling manifest (per-doc repetition counts)",
        _q_mixture_weights,
        twin=_mixture_weights_spark),
    "bm25_search": Query(
        "BM25 top-20 retrieval over the documents table", _q_bm25_search,
        twin=_bm25_search_spark),
    "recrawl_priority": Query(
        "freshness-driven recrawl scheduling", _q_recrawl_priority),
    "quality_classifier": Query(
        "linear quality-classifier inference over the documents table",
        _q_quality_classifier),
    "badwords_filter": Query(
        "C4-style blocklist filtering", _q_badwords_filter),
    "stream_dedup": Query(
        "AvailableNow streaming dedup over events ≡ batch DISTINCT",
        twin=_stream_dedup_spark, oracle=_STREAM_DEDUP_ORACLE),
    "stream_window_counts": Query(
        "AvailableNow watermark + 1-hour tumbling-window counts ≡ batch "
        "GROUP BY", twin=_stream_window_counts_spark,
        oracle=_STREAM_WINDOW_COUNTS_ORACLE),
    "stream_stateful_totals": Query(
        "applyInPandasWithState per-user running totals ≡ batch aggregate",
        twin=_stream_stateful_totals_spark,
        oracle=_STREAM_STATEFUL_TOTALS_ORACLE),
    "media_ann": Query(
        "ANN over decoded media features (decode → persisted index → IVF "
        "probe)", twin=_media_ann_spark, oracle=_MEDIA_ANN_ORACLE),
    "tpch_q6": Query(_TPCH.format(6), _q_tpch_q6),
    "tpch_q18": Query(_TPCH.format(18), _q_tpch_q18),
    "length_percentiles": Query(
        "exact length percentiles per language stratum",
        _q_length_percentiles),
    "event_pivot": Query(
        "per-user event-type pivot (groupBy + conditional aggregation)",
        _q_event_pivot),
    "multimodal_bytes": Query(
        "per-media-type byte totals over binary payload metadata",
        _q_multimodal_bytes),
    "link_filter": Query(
        "F4 allow/deny regex + deny_extensions over candidate links (native "
        "rlike)", _q_link_filter),
    "rolling_avg": Query(
        "per-user rolling average over an ordered event window",
        _q_rolling_avg),
    "multimodal_decode": Query(
        "multimodal decode through the real mapInPandas plumbing",
        twin=_multimodal_decode_spark, oracle=_MULTIMODAL_DECODE_ORACLE),
    "dedup_components": Query(
        "near-dup clusters: connected components over the MinHash-LSH pair "
        "graph, survivor = min doc_id",
        twin=_dedup_components_spark, oracle=_q_dedup_components_oracle()),
    "tpch_q1": Query(_TPCH.format(1), _q_tpch_q1),
    "tpch_q3": Query(_TPCH.format(3), _q_tpch_q3),
    "dedup_exact": Query(
        "exact content-hash dedup (hash-partitioned groupBy)", _q_dedup_exact),
    "window_hourly": Query(
        "tumbling hourly window aggregation over event time",
        _q_window_hourly),
    "sessionize": Query(
        "gap-based sessionization (lag window + cumulative session ids)",
        _q_sessionize),
    "ann_bruteforce": Query(
        "exact cosine top-k (the O(n) recall baseline, 1-row broadcast side)",
        _q_ann_bruteforce),
    "ann_ivf_multiprobe": Query(
        "IVF nprobe=3 probe against the persisted centroid index",
        _q_ann_ivf_multiprobe, twin=_ann_ivf_multiprobe_spark),
    "minhash_lsh_pairs": Query(
        "MinHash-LSH candidate pairs (banded sketch, ONE band equi-join)",
        _q_minhash_lsh_pairs, twin=_minhash_lsh_pairs_spark),
}

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_window_order() -> list[str]:
    """REGISTRY names in the order the driver's CORRECTNESS gate should see
    them: it checks only the first 50 entries of queries(). Reads the
    recorded ``CORRECTNESS_r<N>.json`` files at the repo root and sorts:
    entries with no green row first, then by last green round (oldest
    first), then by fewest green rounds, then in registry order. Each new
    record thus rotates the stalest entries into the window by itself."""
    green: dict[str, list[int]] = {}
    for fname in os.listdir(_REPO):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        with open(os.path.join(_REPO, fname)) as f:
            for name, row in json.load(f).items():
                if (row.get("rows_match") and row.get("schema_match")
                        and (row.get("hash_match")
                             or row.get("err") == "no_oracle")):
                    green.setdefault(name, []).append(int(m.group(1)))
    return sorted(REGISTRY, key=lambda n: (
        n in green, max(green.get(n, [0])), len(green.get(n, []))))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: REGISTRY[n].spark_fn() for n in driver_window_order()}


def oracle_sql() -> dict[str, str]:
    return {n: REGISTRY[n].oracle_sql() for n in driver_window_order()}
