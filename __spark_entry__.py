"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship extraction pipeline over the deterministic
                    synthetic span corpus (sf0.001 scale).
queries()         — one callable per implemented operator (SURVEY.md §2 +
                    the training-data-pipeline operator families).
oracle_sql()      — DuckDB-equivalent ANSI SQL per query (omitted only for
                    genuinely non-SQL-expressible ops → rows-only check).

Column names are aliased identically on both sides (the driver's compare
sorts columns by name before value-hashing).
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_COUNTER = itertools.count()


def _corpus_docs(spark: SparkSession, sf_dir: str):
    from docproc_spark.corpus import CORPUS_SIZE, corpus_df

    key = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    n = CORPUS_SIZE.get(key, 2000)
    return corpus_df(spark, n, seed=42, mega_spans=2000)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fan(df: DataFrame, key: str = "doc_id", min_bytes: int = 0) -> DataFrame:
    """Scan fanout for compute-heavy per-row work: the sf tables are
    single-row-group parquet files, which scan as ONE task — per-token
    hashing / regex chains then run serially regardless of core count
    (guide §2.5 input skew). One cheap keyed exchange first; no-op when
    the input is already well-split (see docproc_spark/partition.py).
    ``min_bytes`` opts light-per-row-work sites into the size gate:
    below it the serial work is cheaper than the exchange."""
    from docproc_spark.partition import scan_fanout

    return scan_fanout(df, key=key, min_bytes=min_bytes)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline on the sf0.001-scale corpus."""
    from docproc_spark.pipeline import extract

    docs = _corpus_docs(spark, "/root/testdata/sf0.001")
    return extract(docs)


# ---------------------------------------------------------------------------
# queries — relational core
# ---------------------------------------------------------------------------
def _q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                AS sum_qty,
       round(sum(l_extendedprice), 2)                           AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)        AS sum_disc_price,
       round(avg(l_quantity), 4)                                AS avg_qty,
       count(*)                                                 AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _q3(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    # Join order: reduce orders by the selective customer filter FIRST,
    # then broadcast only the surviving order keys into lineitem — the
    # broadcast build is ~5× smaller than broadcasting all of orders and
    # lineitem is never shuffled (guide §3.1/§3.2: prune the big side's
    # partner before it meets the big side). Inner-join reassociation:
    # o_custkey is unique per order, so (li⋈o)⋈c ≡ li⋈(o⋈c) row-for-row.
    oc = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select("o_orderkey")
    # Keyed fanout on the join/group key (guide §2.4/§2.5): the sf
    # lineitem files carry 1-6 row groups, so the probe + 300k-group
    # partial agg otherwise runs at effective parallelism <= 6 on a
    # 32-core session; hash-partitioning by l_orderkey is REUSED by the
    # groupBy (no second exchange). Projected to the 3 consumed columns
    # first so the exchange never carries the other 8. min_bytes gates
    # the light probe work: below ~8 MB the serial probe is cheaper than
    # the exchange (measured 0.300 vs 0.383 s at sf0.1; 0.931 vs 0.667 s
    # at sf1.0 where the gate passes).
    li = _fan(
        li.select("l_orderkey", "l_extendedprice", "l_discount"),
        key="l_orderkey",
        min_bytes=8 << 20,
    )
    return (
        li.join(F.broadcast(oc), li.l_orderkey == oc.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def _q5(spark, sf):
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    dims = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name")
    )
    # Semi-reduce every side by the ASIA dimension BEFORE it meets
    # lineitem (guide §3.2): customers to ASIA (~1/5), orders to those
    # customers, suppliers to ASIA — lineitem then probes two small
    # broadcasts and is never shuffled. Equivalence: the original plan's
    # c_nationkey = s_nationkey filter plus s_nationkey ∈ ASIA implies
    # c_nationkey ∈ ASIA, so pre-filtering customers by the same dims
    # table keeps exactly the same joined tuple set.
    c_asia = c.join(
        F.broadcast(dims.select("n_nationkey")),
        c.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "c_nationkey")
    o_asia = o.join(F.broadcast(c_asia), o.o_custkey == c_asia.c_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    s_dim = s.join(dims, s.s_nationkey == F.col("n_nationkey")).select(
        "s_suppkey", "s_nationkey", "n_name"
    )
    return (
        li.join(F.broadcast(o_asia), li.l_orderkey == o_asia.o_orderkey)
        .join(
            F.broadcast(s_dim),
            (li.l_suppkey == s_dim.s_suppkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_Q5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def _q6(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_rows"),
    )


_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def _q14_promo_revenue(spark, sf):
    """q14-style promo revenue share: lineitem ⋈ broadcast(part), one month."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = _t(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count("*").alias("n_rows"),
        )
    )


_Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def _top3_orders(spark, sf):
    from docproc_spark.operators.topk import topk_per_group

    o = _fan(_t(spark, sf, "orders"), key="o_custkey")
    return topk_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )


_TOP3_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def _pivot_returnflag(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_linestatus") == "O", 1)).alias("o_cnt"),
        F.count(F.when(F.col("l_linestatus") == "F", 1)).alias("f_cnt"),
    )


_PIVOT_SQL = """
SELECT l_returnflag,
       count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS o_cnt,
       count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS f_cnt
FROM lineitem GROUP BY l_returnflag
"""


def _orders_rollup(spark, sf):
    o = _t(spark, sf, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def _q10_returned_revenue(spark, sf):
    """Top 20 customers by revenue on returned items (q10-style)."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def _customers_without_orders(spark, sf):
    """Anti join: NOT EXISTS customers."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def _customers_with_urgent(spark, sf):
    """Semi join: EXISTS an urgent order."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


_SEMI_SQL = """
SELECT c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


# ---------------------------------------------------------------------------
# queries — events (sessionization, time windows)
# ---------------------------------------------------------------------------
def _session_stats(spark, sf):
    from docproc_spark.operators.sessionize import session_stats

    return session_stats(_t(spark, sf, "events"), gap_minutes=30)


_SESSION_SQL = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), t AS (
  SELECT user_id,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
)
SELECT user_id,
       CAST(max(session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events,
       round(count(*) / max(session_id), 4) AS avg_events_per_session
FROM t GROUP BY user_id
"""


def _events_asof(spark, sf):
    """As-of join: for each click, the user's latest purchase at-or-before
    it (point-in-time lookup, union-tag + running window — one shuffle)."""
    from docproc_spark.operators.asof import asof_join

    e = _t(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    res = asof_join(
        clicks, purchases, key="user_id", payload_cols=["event_id", "value"]
    )
    return res.select(
        F.col("event_id").alias("click_id"),
        F.col("asof.event_id").alias("purchase_id"),
        F.col("asof.value").alias("purchase_value"),
    )


_EVENTS_ASOF_SQL = """
WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
     p AS (SELECT * FROM events WHERE event_type = 'purchase')
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       p.value    AS purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def _events_hourly(spark, sf):
    e = _t(spark, sf, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))


_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def _events_quantiles(spark, sf):
    """Exact percentiles + distinct users per event type (both engines use
    linear-interpolated exact quantiles, verified bit-equal)."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.countDistinct("user_id").alias("n_users"),
    )


_EVENTS_QUANTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4)  AS p50,
       round(quantile_cont(value, 0.9), 4)  AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def _lineitem_cube(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_CUBE_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def _sessions_stream(spark, sf):
    """Structured Streaming session_window — checked against the batch
    lag/cumsum sessionization SQL (stream/batch parity on session starts)."""
    from docproc_spark.streaming.events import run_stream_once, session_windows

    name = f"sessions_out_{next(_COUNTER)}"
    return run_stream_once(
        spark, f"{sf}/events.parquet", session_windows, query_name=name
    )


_SESSIONS_STREAM_SQL = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), t AS (
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM t GROUP BY user_id, session_id
"""


def _events_stream_dedupe(spark, sf):
    """Streaming exactly-once dedupe: the events file is staged TWICE and
    fed one file per micro-batch, so every event arrives again in a later
    batch — dropDuplicates state must kill the replay. Batch oracle: each
    event once."""
    import os

    from docproc_spark.streaming.events import dedupe_stream, run_stream_once

    src = os.path.abspath(f"{sf}/events.parquet")
    # deterministic staged dir (idempotent) — a mkdtemp per invocation
    # leaked one /tmp dir per correctness/bench run
    key = sf.rstrip("/").rsplit("/", 1)[-1]
    d = f"/root/repo/.bench_cache/stream_dupes_{key}"
    os.makedirs(d, exist_ok=True)
    for name in ("a.parquet", "b.parquet"):
        link = os.path.join(d, name)
        if os.path.islink(link) and os.readlink(link) != src:
            os.remove(link)
        if not os.path.exists(link):
            os.symlink(src, link)
    name = f"dedupe_out_{next(_COUNTER)}"
    return run_stream_once(
        spark,
        d,
        dedupe_stream,
        query_name=name,
        output_mode="append",
        max_files_per_trigger=1,
    )


_EVENTS_STREAM_DEDUPE_SQL = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


def _events_stream_join(spark, sf):
    """Stream-stream interval join driven to completion; batch oracle is
    the plain SQL join with the same time bounds."""
    from docproc_spark.streaming.events import clicks_purchases_join, run_stream_once

    name = f"stream_join_{next(_COUNTER)}"
    return run_stream_once(
        spark,
        f"{sf}/events.parquet",
        clicks_purchases_join,
        query_name=name,
        output_mode="append",
    )


_EVENTS_STREAM_JOIN_SQL = """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       p.value    AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 1 HOUR
"""


def _events_windowed_stream(spark, sf):
    """Structured Streaming tumbling-window counts, driven to completion —
    checked against a plain batch SQL oracle (stream/batch parity)."""
    from docproc_spark.streaming.events import run_stream_once, windowed_counts

    name = f"stream_out_{next(_COUNTER)}"
    return run_stream_once(
        spark, f"{sf}/events.parquet", windowed_counts, query_name=name
    )


_EVENTS_WINDOWED_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# queries — documents: text analysis
# ---------------------------------------------------------------------------
_TOKS = "list_filter(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'), t -> t <> '')"
_LTOKS = "list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'), t -> t <> '')"


def _doc_stats(spark, sf):
    from docproc_spark.functions.text import bpe_token_count_col, token_count_col

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        bpe_token_count_col(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_calc"),
        "lang",
        "source",
    )


_DOC_STATS_SQL = f"""
SELECT doc_id,
       len({_TOKS}) AS n_tokens,
       len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n_bpe_tokens,
       length(text) AS n_chars_calc,
       lang, source
FROM documents
"""


def _doc_quality(spark, sf):
    from docproc_spark.functions.text import (
        avg_token_len_col,
        punct_ratio_col,
        quality_score_col,
        stopword_ratio_col,
        token_count_col,
    )

    d = _fan(_t(spark, sf, "documents"))
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count_col(t).alias("n_tokens"),
        avg_token_len_col(t).alias("avg_token_len"),
        stopword_ratio_col(t).alias("stopword_ratio"),
        punct_ratio_col(t).alias("punct_ratio"),
        quality_score_col(t).alias("quality"),
    )


_DOC_QUALITY_SQL = f"""
WITH b AS (
  SELECT doc_id, text,
         {_TOKS} AS toks,
         {_LTOKS} AS ltoks
  FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN round(list_aggregate(list_transform(toks, t -> length(t)), 'sum') / len(toks), 4)
              ELSE 0.0 END AS avg_token_len,
         CASE WHEN len(ltoks) > 0
              THEN round(len(list_filter(ltoks, t -> t IN ('the','a','of','and','to','in','is','it'))) / len(ltoks), 4)
              ELSE 0.0 END AS stopword_ratio,
         CASE WHEN length(text) > 0
              THEN round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text), 4)
              ELSE 0.0 END AS punct_ratio
  FROM b
)
SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, punct_ratio,
       round(greatest(least(
         0.5 * least(n_tokens / 100.0, 1.0)
         + 0.5 * least(stopword_ratio * 4.0, 1.0)
         - greatest(punct_ratio - 0.2, 0.0), 1.0), 0.0), 4) AS quality
FROM m
"""


def _lang_pred(spark, sf):
    from docproc_spark.functions.text import lang_id_col

    d = _fan(_t(spark, sf, "documents"))
    return d.select("doc_id", "lang", lang_id_col(F.col("text")).alias("lang_pred"))


_LANG_PRED_SQL = f"""
WITH b AS (
  SELECT doc_id, lang, {_LTOKS} AS ltoks FROM documents
), m AS (
  SELECT doc_id, lang,
    len(list_filter(ltoks, t -> t IN ('der','die','das','und','nicht'))) AS s_de,
    len(list_filter(ltoks, t -> t IN ('the','and','of','to','a')))       AS s_en,
    len(list_filter(ltoks, t -> t IN ('el','la','de','que','los')))      AS s_es,
    len(list_filter(ltoks, t -> t IN ('le','la','les','des','et')))      AS s_fr
  FROM b
)
SELECT doc_id, lang,
  CASE WHEN s_fr > 0 AND s_fr > s_de AND s_fr > s_en AND s_fr > s_es THEN 'fr'
       WHEN s_es > 0 AND s_es > s_de AND s_es > s_en AND s_es > s_fr THEN 'es'
       WHEN s_en > 0 AND s_en > s_de AND s_en > s_es AND s_en > s_fr THEN 'en'
       WHEN s_de > 0 AND s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
       ELSE 'unk' END AS lang_pred
FROM m
"""


def _gopher_quality(spark, sf):
    """Gopher/MassiveText repetition + quality rules (Rae et al. 2021):
    duplicate-line fraction, mean word length band, alphabetic-word
    fraction, top-bigram character coverage → keep/drop verdict."""
    from docproc_spark.functions.text import gopher_quality

    return gopher_quality(_t(spark, sf, "documents"))


_GOPHER_SQL = f"""
WITH b AS (
  SELECT doc_id, text,
         {_TOKS} AS toks,
         list_filter(list_transform(regexp_split_to_array(coalesce(text, ''), '\r?\n'),
                                    l -> trim(l)), l -> l <> '') AS lines
  FROM documents
), g AS (
  SELECT doc_id, text, toks,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(0, len(toks) - 2 + 1),
                                  i -> array_to_string(list_transform(toks[i+1:i+2], t -> lower(t)), ' '))
              ELSE [] END AS bg,
         CASE WHEN len(lines) > 0
              THEN round((len(lines) - len(list_distinct(lines))) / len(lines), 4)
              ELSE 0.0 END AS dup_line_frac,
         CASE WHEN len(toks) > 0
              THEN round(list_aggregate(list_transform(toks, t -> length(t)), 'sum') / len(toks), 4)
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN len(toks) > 0
              THEN round(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) / len(toks), 4)
              ELSE 0.0 END AS alpha_word_frac
  FROM b
), m AS (
  SELECT doc_id, dup_line_frac, mean_word_len, alpha_word_frac,
         CASE WHEN length(coalesce(text, '')) > 0
              THEN round(coalesce(struct_extract(list_max(list_transform(list_distinct(bg),
                     v -> struct_pack(cnt := len(list_filter(bg, x -> x = v)),
                           chars := len(list_filter(bg, x -> x = v)) * length(v)))), 'chars'), 0)
                   / length(coalesce(text, '')), 4)
              ELSE 0.0 END AS top_bigram_frac
  FROM g
)
SELECT doc_id, dup_line_frac, mean_word_len, alpha_word_frac, top_bigram_frac,
       (dup_line_frac <= 0.30
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND alpha_word_frac >= 0.80
        AND top_bigram_frac <= 0.18) AS keep
FROM m
"""


def _docs_hash_sample(spark, sf):
    """Deterministic 25% sample by md5 bucket — reproducible across engines
    (the DuckDB oracle selects the IDENTICAL subset)."""
    from docproc_spark.operators.sampling import hash_sample

    d = _t(spark, sf, "documents")
    return hash_sample(d, 0.25).select("doc_id", "lang", "source")


_HASH_SAMPLE_SQL = """
SELECT doc_id, lang, source FROM documents
WHERE CAST(concat('0x', substr(md5(coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'null')), 1, 8)) AS BIGINT)
      < CAST(0.25 * 4294967296 AS BIGINT)
"""


def _curation_pipeline(spark, sf):
    """End-to-end training-data curation: exact first-wins dedupe → quality
    + language scoring → keep docs with quality ≥ 0.3 and a confident
    language — the selection pass a pretraining pipeline runs before
    tokenization. Composition of the engine's own operators."""
    from docproc_spark.functions.text import lang_id_col, quality_score_col
    from docproc_spark.operators.dedupe import first_wins_dedupe

    d = _t(spark, sf, "documents")
    keep = first_wins_dedupe(d)
    t = F.col("text")
    scored = keep.select(
        "doc_id",
        quality_score_col(t).alias("quality"),
        lang_id_col(t).alias("lang_pred"),
    )
    return scored.filter((F.col("quality") >= 0.3) & (F.col("lang_pred") != "unk"))


_CURATION_SQL = f"""
WITH keep AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (
             PARTITION BY md5(lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')))
             ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
), b AS (
  SELECT doc_id, text, {_TOKS} AS toks, {_LTOKS} AS ltoks FROM keep
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(ltoks) > 0
              THEN round(len(list_filter(ltoks, t -> t IN ('the','a','of','and','to','in','is','it'))) / len(ltoks), 4)
              ELSE 0.0 END AS stopword_ratio,
         CASE WHEN length(text) > 0
              THEN round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text), 4)
              ELSE 0.0 END AS punct_ratio,
         len(list_filter(ltoks, t -> t IN ('der','die','das','und','nicht'))) AS s_de,
         len(list_filter(ltoks, t -> t IN ('the','and','of','to','a')))       AS s_en,
         len(list_filter(ltoks, t -> t IN ('el','la','de','que','los')))      AS s_es,
         len(list_filter(ltoks, t -> t IN ('le','la','les','des','et')))      AS s_fr
  FROM b
), scored AS (
  SELECT doc_id,
         round(greatest(least(
           0.5 * least(n_tokens / 100.0, 1.0)
           + 0.5 * least(stopword_ratio * 4.0, 1.0)
           - greatest(punct_ratio - 0.2, 0.0), 1.0), 0.0), 4) AS quality,
         CASE WHEN s_de > 0 AND s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
              WHEN s_en > 0 AND s_en > s_de AND s_en > s_es AND s_en > s_fr THEN 'en'
              WHEN s_es > 0 AND s_es > s_de AND s_es > s_en AND s_es > s_fr THEN 'es'
              WHEN s_fr > 0 AND s_fr > s_de AND s_fr > s_en AND s_fr > s_es THEN 'fr'
              ELSE 'unk' END AS lang_pred
  FROM m
)
SELECT doc_id, quality, lang_pred
FROM scored WHERE quality >= 0.3 AND lang_pred <> 'unk'
"""


def _fingerprints(spark, sf):
    from docproc_spark.functions.text import doc_fingerprint_col

    d = _t(spark, sf, "documents")
    return d.select("doc_id", doc_fingerprint_col(F.col("text")).alias("fp"))


_FP_SQL = """
SELECT doc_id, md5(lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp
FROM documents
"""


def _rolling_fp(spark, sf):
    from docproc_spark.functions.text import rolling_hashes_from_tokens
    from docproc_spark.operators.dedupe import tokens_col

    d = _t(spark, sf, "documents")
    # tokens staged as a COLUMN before the shingle transform: inlining the
    # tokenization inside the HOF lambda re-evaluates the split per
    # shingle — silently O(n²) on big documents (the bigram-counter trap)
    staged = d.select("doc_id", tokens_col(F.col("text")).alias("_tk"))
    return staged.select(
        "doc_id",
        F.array_min(rolling_hashes_from_tokens(F.col("_tk"), 16)).alias("rfp"),
    )


_ROLLING_FP_SQL = f"""
SELECT doc_id,
  list_aggregate(
    list_transform(range(0, greatest(len({_TOKS}) - 16, 0) + 1),
                   i -> md5(array_to_string(({_TOKS})[i+1:i+16], ' '))),
    'min') AS rfp
FROM documents
"""


# ---------------------------------------------------------------------------
# queries — dedup family
# ---------------------------------------------------------------------------
def _exact_dup_groups(spark, sf):
    from docproc_spark.operators.dedupe import exact_dup_groups

    return exact_dup_groups(_t(spark, sf, "documents"))


_EXACT_DUP_SQL = """
WITH f AS (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM f GROUP BY fp HAVING count(*) > 1
"""


def _first_wins(spark, sf):
    from docproc_spark.operators.dedupe import first_wins_dedupe

    # no _fan here: the per-row work (one regex collapse + one md5 of the
    # whole text) is too light to amortize an extra exchange — measured
    # 0.214 s -> 0.300 s at sf0.1 with fanout, so the r5 plan shape stays
    return first_wins_dedupe(_t(spark, sf, "documents")).select("doc_id")


_FIRST_WINS_SQL = """
SELECT doc_id FROM (
  SELECT doc_id,
         row_number() OVER (
           PARTITION BY md5(lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')))
           ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


def _minhash_signatures(spark, sf):
    from docproc_spark.operators.dedupe import minhash_signature

    return minhash_signature(_t(spark, sf, "documents"), k=4).select(
        "doc_id", "mh0", "mh1", "mh2", "mh3"
    )


def _mh_sql_expr(i: int) -> str:
    return (
        f"list_aggregate(list_transform(list_distinct({_TOKS}), "
        f"t -> md5('{i}:' || t)), 'min')"
    )


_MINHASH_SQL = f"""
SELECT doc_id,
       {_mh_sql_expr(0)} AS mh0,
       {_mh_sql_expr(1)} AS mh1,
       {_mh_sql_expr(2)} AS mh2,
       {_mh_sql_expr(3)} AS mh3
FROM documents
"""


def _minhash_bands(spark, sf):
    from docproc_spark.operators.dedupe import minhash_band_histogram

    return minhash_band_histogram(
        _fan(_t(spark, sf, "documents")), k=4, rows_per_band=2
    )


_MINHASH_BANDS_SQL = f"""
WITH sig0 AS (
  SELECT doc_id,
         {_mh_sql_expr(0)} AS mh0, {_mh_sql_expr(1)} AS mh1,
         {_mh_sql_expr(2)} AS mh2, {_mh_sql_expr(3)} AS mh3
  FROM documents
), sig AS (
  -- zero-token docs have NULL signatures and are excluded from banding on
  -- both engines (no shingles → never a candidate)
  SELECT * FROM sig0 WHERE mh0 IS NOT NULL
), bands AS (
  SELECT 0 AS band_id, mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT 1 AS band_id, mh2 || '|' || mh3 AS band_key FROM sig
), buckets AS (
  SELECT band_id, band_key, count(*) AS n FROM bands GROUP BY 1, 2
)
SELECT band_id, count(*) AS n_buckets,
       CAST(sum(n * (n - 1) / 2) AS BIGINT) AS n_candidate_pairs
FROM buckets GROUP BY band_id
"""


def _ngram_jaccard(spark, sf):
    from docproc_spark.operators.dedupe import ngram_jaccard_pairs

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 80)
    return ngram_jaccard_pairs(d, n=3, min_jaccard=0.01)


_NGRAM_JACCARD_SQL = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 80
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(0, greatest(len(toks) - 3, 0) + 1),
           i -> array_to_string(toks[i+1:i+3], ' ')))) AS shingle
  FROM d
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, shared,
       round(shared / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE round(shared / (sa.n_sh + sb.n_sh - shared), 4) >= 0.01
"""


def _neardup_minhash_verified(spark, sf):
    """Composed dedup pipeline: plant near-duplicates (doc ⊕ one extra
    token), then minhash_candidate_pairs → exact n-gram Jaccard verify —
    candidates bound the pair space, Jaccard confirms."""
    from docproc_spark.operators.dedupe import minhash_neardup_pairs

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 40).select("doc_id", "text")
    planted = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" plantedtoken")).alias("text"),
    )
    corpus = d.unionByName(planted)
    return minhash_neardup_pairs(
        corpus, k=4, rows_per_band=2, n=3, min_jaccard=0.5, log_dropped=False
    )


_NEARDUP_MINHASH_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 40
), corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text || ' plantedtoken' AS text FROM base
), sig AS (
  SELECT doc_id,
         {_mh_sql_expr(0)} AS mh0,
         {_mh_sql_expr(1)} AS mh1,
         {_mh_sql_expr(2)} AS mh2,
         {_mh_sql_expr(3)} AS mh3
  FROM corpus
), bands AS (
  SELECT doc_id, 0 AS band_id, mh0 || '|' || mh1 AS bk FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_id, mh2 || '|' || mh3 AS bk FROM sig
), ok AS (
  SELECT band_id, bk FROM bands GROUP BY band_id, bk
  HAVING count(*) > 1 AND count(*) <= 1000
), cands AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x
  JOIN ok USING (band_id, bk)
  JOIN bands y USING (band_id, bk)
  WHERE x.doc_id < y.doc_id
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(0, greatest(len({_TOKS}) - 3, 0) + 1),
           i -> array_to_string(({_TOKS})[i+1:i+3], ' ')))) AS shingle
  FROM corpus
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT c.a, c.b, count(*) AS shared
  FROM cands c
  JOIN sh x ON x.doc_id = c.a
  JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
  GROUP BY c.a, c.b
)
SELECT a, b, shared,
       round(shared / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE round(shared / (sa.n_sh + sb.n_sh - shared), 4) >= 0.5
"""


def _planted_corpus(spark, sf) -> DataFrame:
    """The transitive near-dup test corpus shared by _dup_clusters and
    _keep_best (ONE definition — its SQL twin is _PLANTED_CORPUS_CTES):
    base docs → +1-token variant → +2-token variant; the chain ends may
    not pair directly, forcing the transitive closure."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 25).select("doc_id", "text")
    v1 = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" plantedtoken")).alias("text"),
    )
    v2 = d.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" plantedtoken plantedtwo")).alias("text"),
    )
    return d.unionByName(v1).unionByName(v2)


# SQL twin of _planted_corpus — interpolated into BOTH _dup_clusters_sql and
# _keep_best_sql so the three sites cannot drift apart independently.
_PLANTED_CORPUS_CTES = """base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 25
), corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 10000, text || ' plantedtoken' FROM base
  UNION ALL
  SELECT doc_id + 20000, text || ' plantedtoken plantedtwo' FROM base
)"""


def _planted_components(spark, sf) -> DataFrame:
    """minhash→Jaccard pairs → connected components over _planted_corpus —
    the single chain behind both dup_clusters and dedup_keep_best."""
    from docproc_spark.operators.dedupe import dup_components, minhash_neardup_pairs

    pairs = minhash_neardup_pairs(
        _planted_corpus(spark, sf),
        k=4,
        rows_per_band=2,
        n=3,
        min_jaccard=0.5,
        log_dropped=False,
    )
    return dup_components(pairs.select("a", "b"))


def _dup_clusters(spark, sf):
    """Full dedup chain: plant TRANSITIVE near-dup chains (base → +1 token →
    +2 tokens; the ends may not pair directly), find pairs with
    minhash→Jaccard, then cluster via connected components — keeping one
    doc per CLUSTER needs the transitive closure, not the pair list."""
    return _planted_components(spark, sf)


def _dup_clusters_sql() -> str:
    # the _NEARDUP_MINHASH_SQL pair pipeline over a 3-variant corpus, then
    # connected components via a recursive reachability CTE
    return f"""
WITH RECURSIVE {_PLANTED_CORPUS_CTES}, sig AS (
  SELECT doc_id,
         {_mh_sql_expr(0)} AS mh0,
         {_mh_sql_expr(1)} AS mh1,
         {_mh_sql_expr(2)} AS mh2,
         {_mh_sql_expr(3)} AS mh3
  FROM corpus
), bands AS (
  SELECT doc_id, 0 AS band_id, mh0 || '|' || mh1 AS bk FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_id, mh2 || '|' || mh3 AS bk FROM sig
), ok AS (
  SELECT band_id, bk FROM bands GROUP BY band_id, bk
  HAVING count(*) > 1 AND count(*) <= 1000
), cands AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN ok USING (band_id, bk) JOIN bands y USING (band_id, bk)
  WHERE x.doc_id < y.doc_id
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(0, greatest(len({_TOKS}) - 3, 0) + 1),
           i -> array_to_string(({_TOKS})[i+1:i+3], ' ')))) AS shingle
  FROM corpus
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT c.a, c.b, count(*) AS shared
  FROM cands c
  JOIN sh x ON x.doc_id = c.a
  JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
  GROUP BY c.a, c.b
), pairs AS (
  SELECT a, b FROM shared
  JOIN sizes sa ON sa.doc_id = a
  JOIN sizes sb ON sb.doc_id = b
  WHERE round(shared / (sa.n_sh + sb.n_sh - shared), 4) >= 0.5
), edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b, a FROM pairs
), reach(v, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.v, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT v AS doc_id, min(r) AS component
FROM reach GROUP BY v
"""


def _keep_best(spark, sf):
    """End-to-end fuzzy-dedup keeper selection: the _dup_clusters planted-
    variant corpus → minhash pairs → connected components → keep the max-
    token member per cluster (dedupe.keep_best_per_cluster). Each planted
    chain's +2-token variant wins; singletons keep themselves."""
    from docproc_spark.operators.dedupe import keep_best_per_cluster

    return keep_best_per_cluster(
        _planted_corpus(spark, sf), _planted_components(spark, sf)
    ).select("doc_id", "component", "keep")


def _keep_best_sql() -> str:
    # the full dup_clusters oracle embedded as a CTE, then the keeper rule:
    # max whitespace-token count per component, ties to the lowest doc_id,
    # singletons (docs outside every component) keep themselves
    return f"""
WITH comp AS ({_dup_clusters_sql()}),
{_PLANTED_CORPUS_CTES},
kb_j AS (
  SELECT c.doc_id, coalesce(m.component, c.doc_id) AS component,
         coalesce(len({_TOKS}), 0)::BIGINT AS nt
  FROM corpus c LEFT JOIN comp m USING (doc_id)
), kb_r AS (
  SELECT doc_id, component,
         row_number() OVER (PARTITION BY component
                            ORDER BY nt DESC, doc_id) AS rn
  FROM kb_j)
SELECT doc_id, component, (rn = 1) AS keep FROM kb_r
"""


def _simhash(spark, sf):
    from docproc_spark.operators.dedupe import simhash64

    return simhash64(_fan(_t(spark, sf, "documents")))


def _simhash_pairs(spark, sf):
    """SimHash hamming-≤3 near-dup pairs over a corpus with planted exact
    copies (hamming 0) and one-token edits — pigeonhole banding gives
    PERFECT recall below n_bands, so a plain SQL oracle reproduces it."""
    from docproc_spark.operators.dedupe import simhash_neardup_pairs

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 30).select("doc_id", "text")
    copies = d.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    edits = d.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" plantedtoken")).alias("text"),
    )
    corpus = d.unionByName(copies).unionByName(edits)
    return simhash_neardup_pairs(corpus, max_hamming=3, n_bands=4)


def _simhash_pairs_sql(n_bands: int = 4, n_bits: int = 60, max_hamming: int = 3) -> str:
    bits_per = n_bits // n_bands
    mask = (1 << bits_per) - 1
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band, (simhash >> {b * bits_per}) & {mask} AS bk FROM sigs"
        for b in range(n_bands)
    )
    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 30
), corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 10000, text FROM base
  UNION ALL
  SELECT doc_id + 20000, text || ' plantedtoken' FROM base
), {_simhash_sig_ctes('corpus', n_bits)}, bands AS (
{band_rows}
), ok AS (
  SELECT band, bk FROM bands GROUP BY band, bk
  HAVING count(*) > 1 AND count(*) <= 1000
), cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS sa, y.simhash AS sb
  FROM bands x JOIN ok USING (band, bk) JOIN bands y USING (band, bk)
  WHERE x.doc_id < y.doc_id
)
SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


def _simhash_sig_ctes(relation: str, n_bits: int = 60) -> str:
    """The DuckDB SimHash signature CTE chain over ``relation``: token hash
    = first 15 md5 hex chars as int (matches Spark's
    conv(substring(md5, 1, 15), 16, 10)), per-bit majority vote; the final
    CTE is ``sigs(doc_id, simhash)`` with zero-token docs → 0."""
    bit_sums = ",\n         ".join(
        f"sum(CAST((h >> {j}) & 1 AS BIGINT)) AS b{j}" for j in range(n_bits)
    )
    sig_terms = "\n       + ".join(
        f"(CASE WHEN b{j} * 2 > n THEN CAST({2 ** j} AS BIGINT) ELSE 0 END)"
        for j in range(n_bits)
    )
    return f"""toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            t -> t <> '')) AS tok
  FROM {relation}
), hs AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks
), c AS (
  SELECT doc_id, count(*) AS n,
         {bit_sums}
  FROM hs GROUP BY doc_id
), rawsig AS (
  SELECT doc_id,
         {sig_terms} AS s
  FROM c
), sigs AS (
  SELECT d.doc_id, CAST(coalesce(rawsig.s, 0) AS BIGINT) AS simhash
  FROM {relation} d LEFT JOIN rawsig ON d.doc_id = rawsig.doc_id
)"""


def _simhash_sql(n_bits: int = 60) -> str:
    return f"""
WITH {_simhash_sig_ctes('documents', n_bits)}
SELECT doc_id, simhash FROM sigs
"""


def _lang_ngram_sql() -> str:
    """DuckDB trigram profile vote — non-overlapping literal counts via the
    length/replace trick (same left-to-right scan as pandas str.count);
    winner = first language in sorted order attaining the strict max > 0."""
    from docproc_spark.functions.text import _NGRAM_PROFILES

    langs = sorted(_NGRAM_PROFILES)
    score_cols = []
    for lang in langs:
        terms = " + ".join(
            f"(length(s) - length(replace(s, '{g}', ''))) // 3"
            for g in _NGRAM_PROFILES[lang]
        )
        score_cols.append(f"({terms}) AS s_{lang}")
    cases = []
    for i, lang in enumerate(langs):
        later = [f"s_{lang} >= s_{o}" for o in langs[i + 1 :]]
        cond = " AND ".join([f"s_{lang} > 0"] + later)
        cases.append(f"WHEN {cond} THEN '{lang}'")
    case_sql = "\n       ".join(cases)
    scores_sql = ",\n         ".join(score_cols)
    return f"""
WITH b AS (
  SELECT doc_id, lang, ' ' || lower(coalesce(text, '')) || ' ' AS s
  FROM documents
), m AS (
  SELECT doc_id, lang,
         {scores_sql}
  FROM b
)
SELECT doc_id, lang,
  CASE {case_sql}
       ELSE 'unk' END AS lang_pred
FROM m
"""


def _sanitize_llm_sql(max_tokens: int = 50) -> str:
    """DuckDB mirror of kernels.llm_input.sanitize_for_llm: the 16 injection
    regexes applied in order (RE2 'gi' ≡ re.IGNORECASE here: patterns and
    the documents table are pure ASCII), whitespace collapse, truncate to
    max_tokens*4 chars at the last space, trim."""
    from docproc_spark.kernels.llm_input import INJECTION_PATTERNS

    # python \s on the documented ASCII input = [\t-\r\x1c-\x1f ] — RE2's
    # \s excludes \x0b and \x1c-\x1f, so the class is written out both in
    # the collapse and INSIDE the injection patterns
    py_ws = r"[\t-\r\x1c-\x1f ]"
    expr = "trim(coalesce(text, ''))"
    for p in INJECTION_PATTERNS:
        p_re2 = p.replace(r"\s", py_ws)
        expr = f"regexp_replace({expr}, '{p_re2}', ' ', 'gi')"
    expr = f"trim(regexp_replace({expr}, '{py_ws}+', ' ', 'g'))"
    mc = max(1, max_tokens * 4)
    return f"""
WITH o AS (
  SELECT doc_id, {expr} AS t FROM documents
)
SELECT doc_id,
  CASE WHEN length(t) > {mc} THEN
    trim(CASE WHEN strpos(substr(t, 1, {mc}), ' ') > 0
              THEN substr(t, 1, {mc} - strpos(reverse(substr(t, 1, {mc})), ' '))
              ELSE substr(t, 1, {mc}) END)
  ELSE t END AS safe_text
FROM o
"""


# ---------------------------------------------------------------------------
# queries — similarity search
# ---------------------------------------------------------------------------
def _cosine_topk(spark, sf):
    from docproc_spark.operators.similarity import brute_force_topk

    # min_bytes: a 64-dim dot product per row is light work — below ~2 MB
    # (sf0.1's 2k vectors) the fanout exchange costs more than the serial
    # scan it parallelizes; at sf1.0+ (>=3 MB) the fanout is a 2-4× win.
    return brute_force_topk(
        _fan(_t(spark, sf, "embeddings"), key="vec_id", min_bytes=2 << 20),
        query_vec_id=0,
        k=10,
    )


_COSINE_SQL = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id,
       round(
         list_reduce(list_transform(list_zip(embedding::DOUBLE[], qv),
                                    p -> p[1] * p[2]), (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b))
            * sqrt(list_reduce(list_transform(qv, x -> x * x), (a, b) -> a + b))),
         4) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


# --- DuckDB mirrors of the approximate-ANN family -------------------------
# The hyperplane scheme is md5-mixed per (seed, plane, dim) — the identical
# double falls out of Python hashlib (operators/similarity.plane_weight),
# Spark md5/conv and DuckDB md5/hex-cast — and every reduction is a
# sequential left fold, so the "approximate" queries are bit-reproducible
# in plain SQL: same buckets, same candidates, same re-ranked top-k.
_EMB_DIMS = 64  # embeddings.parquet fixture dimensionality (all sf dirs)


def _emb64(spark, sf):
    """embeddings table with the dimensionality ASSERTED: the ANN oracle
    SQL hardcodes {_EMB_DIMS}-component planes and a range(0,{_EMB_DIMS})
    centroid unroll, while the Spark operators probe dims from the data —
    a fixture dims change must fail loudly here, not silently diverge
    (DuckDB list_zip would quietly truncate the extra components)."""
    emb = _t(spark, sf, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    if dims != _EMB_DIMS:
        raise AssertionError(
            f"embeddings dims changed: {dims} != {_EMB_DIMS}; regenerate "
            "the ANN oracle SQL (_EMB_DIMS) to match"
        )
    return emb


def _duck_plane(seed_b: int, p: int) -> str:
    return (
        f"list_transform(range(0, {_EMB_DIMS}), d -> "
        f"(CAST(concat('0x', substr(md5(concat('{seed_b}:{p}:', d)), 1, 8)) AS BIGINT)"
        f" % 1000000) / 500000.0 - 1.0)"
    )


def _duck_dot(vexpr: str, wexpr: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({vexpr}, {wexpr}),"
        f" pr -> pr[1] * pr[2]), (a, b) -> a + b)"
    )


def _duck_cos(vexpr: str, qexpr: str) -> str:
    return (
        f"({_duck_dot(vexpr, qexpr)}"
        f" / (sqrt(list_reduce(list_transform({vexpr}, x -> x * x), (a, b) -> a + b))"
        f" * sqrt(list_reduce(list_transform({qexpr}, x -> x * x), (a, b) -> a + b))))"
    )


def _duck_bucket(vexpr: str, seed_b: int, r: int) -> str:
    terms = [
        f"(CASE WHEN {_duck_dot(vexpr, _duck_plane(seed_b, p))} >= 0"
        f" THEN {2 ** p} ELSE 0 END)"
        for p in range(r)
    ]
    return "(" + " + ".join(terms) + ")"


def _duck_banded_cte(n_bands: int, r: int, seed: int) -> str:
    selects = [
        f"SELECT vec_id, v, {band} AS band,"
        f" {_duck_bucket('v', seed + band * 7919, r)} AS bucket FROM e"
        for band in range(n_bands)
    ]
    return "\n  UNION ALL\n  ".join(selects)


def _lsh_index_ann_sql(n_bands=12, r=3, seed=42, k=10) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  {_duck_banded_cte(n_bands, r, seed)}
),
q AS (SELECT band, bucket, v AS qv FROM b WHERE vec_id = 0),
cand AS (
  SELECT b.vec_id, any_value(b.v) AS v, any_value(q.qv) AS qv
  FROM b JOIN q USING (band, bucket)
  WHERE b.vec_id <> 0
  GROUP BY b.vec_id
)
SELECT vec_id, round({_duck_cos('v', 'qv')}, 4) AS cos_sim
FROM cand
ORDER BY cos_sim DESC, vec_id
LIMIT {k}
"""


def _neardup_lsh_sql(n_bands=6, r=3, seed=42, threshold=0.4) -> str:
    cos = _duck_cos("ea.v", "eb.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  {_duck_banded_cte(n_bands, r, seed)}
),
pairs AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM b l JOIN b r USING (band, bucket) WHERE l.vec_id < r.vec_id
)
SELECT p.a, p.b, round({cos}, 4) AS cos_sim
FROM pairs p JOIN e ea ON ea.vec_id = p.a JOIN e eb ON eb.vec_id = p.b
WHERE round({cos}, 4) >= {threshold}
"""


def _duck_assign_cte(cents: str) -> str:
    """Nearest-centroid assignment — mirrors _assign_to_centroids (max
    cosine, ties on cent_id)."""
    cos = _duck_cos("e.v", "c.cvec")
    return f"""(
  SELECT vec_id, v, cent_id FROM (
    SELECT e.vec_id, e.v, c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY -({cos}), c.cent_id) AS rn
    FROM e CROSS JOIN {cents} c)
  WHERE rn = 1
)"""


def _duck_means_cte(assigned: str) -> str:
    """Per-(cluster, dim) mean as a sorted left fold — mirrors the
    deterministic mean in kernels (similarity.kmeans_centroids): 0.0-seeded
    fold over value-sorted members, divided by count."""
    return f"""(
  SELECT cent_id, list(m ORDER BY d) AS new_cvec FROM (
    SELECT cent_id, d,
           list_reduce(list_prepend(0.0::DOUBLE, list(x ORDER BY x)),
                       (a, b) -> a + b) / count(*) AS m
    FROM (SELECT a.cent_id, t.d AS d, a.v[t.d + 1] AS x
          FROM {assigned} a, range(0, {_EMB_DIMS}) t(d))
    GROUP BY cent_id, d)
  GROUP BY cent_id
)"""


def _duck_kmeans_ctes(n_lists: int, n_iter: int) -> tuple[str, str]:
    """The deterministic-k-means unroll shared by every oracle that embeds a
    fitted quantizer (IVF ANN, semdedup): seed centroids c0 (the n_lists
    lowest-id vectors) then n_iter Lloyd rounds of assignment + sorted-fold
    means with empty clusters keeping their centroid — bit-equal to
    similarity.kmeans_centroids. Returns (ctes_sql, final_cte_name);
    expects an `e(vec_id, v)` CTE in scope."""
    parts = [
        f"c0 AS (SELECT vec_id AS cent_id, v AS cvec"
        f" FROM e ORDER BY vec_id LIMIT {n_lists})"
    ]
    prev = "c0"
    for i in range(1, n_iter + 1):
        parts.append(f"a{i} AS {_duck_assign_cte(prev)}")
        parts.append(f"m{i} AS {_duck_means_cte(f'a{i}')}")
        parts.append(
            f"c{i} AS (SELECT {prev}.cent_id, COALESCE(m{i}.new_cvec, {prev}.cvec)"
            f" AS cvec FROM {prev} LEFT JOIN m{i} USING (cent_id))"
        )
        prev = f"c{i}"
    return ",\n".join(parts), prev


def _ivf_ann_sql(n_lists=16, n_probe=4, n_iter=2, k=10) -> str:
    """IVF ANN unrolled: seed centroids → n_iter Lloyd rounds (assignment +
    deterministic means, empty clusters keep their centroid) → probe the
    n_probe nearest lists → exact re-rank. Bit-equal to ivf_topk."""
    iters_sql, prev = _duck_kmeans_ctes(n_lists, n_iter)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{iters_sql},
af AS {_duck_assign_cte(prev)},
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probes AS (
  SELECT cent_id FROM {prev} CROSS JOIN q
  ORDER BY {_duck_cos('cvec', 'qv')} DESC, cent_id LIMIT {n_probe}
)
SELECT af.vec_id, round({_duck_cos('af.v', 'qv')}, 4) AS cos_sim
FROM af JOIN probes USING (cent_id) CROSS JOIN q
WHERE af.vec_id <> 0
ORDER BY cos_sim DESC, af.vec_id
LIMIT {k}
"""


def _shard_assign(spark, sf):
    """Serpentine balanced shard assignment (rank.assign_shards): order by
    (n_tokens DESC, doc_id) and deal across 8 shards, alternating direction
    each block — the closed form is reproducible from row_number alone."""
    from docproc_spark.operators.rank import assign_shards

    return assign_shards(_t(spark, sf, "documents"), 8)


_SHARD_SQL = f"""
WITH t AS (
  SELECT doc_id, coalesce(len({_TOKS}), 0)::BIGINT AS n_tokens FROM documents
), r AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rank
  FROM t)
SELECT doc_id, n_tokens, rank::BIGINT AS rank,
       (CASE WHEN ((rank - 1) // 8) % 2 = 0 THEN (rank - 1) % 8
             ELSE 7 - ((rank - 1) % 8) END)::BIGINT AS shard
FROM r
"""


def _corpus_report(spark, sf):
    """Dataset-card composition table (report.corpus_report): one CUBE pass
    over (source, lang) with integer metrics; rollup cells labelled <all>."""
    from docproc_spark.operators.report import corpus_report

    return corpus_report(_t(spark, sf, "documents"))


_CORPUS_REPORT_SQL = f"""
WITH s AS (
  SELECT coalesce(source, '<null>') AS source,
         coalesce(lang, '<null>') AS lang,
         coalesce(len({_TOKS}), 0)::BIGINT AS nt,
         coalesce(length(text), 0)::BIGINT AS nc,
         (CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn
  FROM documents)
SELECT coalesce(source, '<all>') AS source,
       coalesce(lang, '<all>') AS lang,
       count(*)::BIGINT AS n_docs,
       sum(nn)::BIGINT AS n_null_text,
       sum(nt)::BIGINT AS total_tokens,
       sum(nc)::BIGINT AS total_chars,
       (sum(nt) // count(*))::BIGINT AS tokens_per_doc
FROM s GROUP BY CUBE (source, lang)
"""


def _semdedup(spark, sf):
    """SemDeDup (similarity.semdedup): cluster-scoped semantic dedup —
    k-means assign, then first-wins within each cluster at cosine ≥ 0.3.
    The corpus' within-cluster sims top out ~0.51, so 0.3 exercises keep
    AND drop branches plus the NULL cluster-minimum rows at every sf."""
    from docproc_spark.operators.similarity import semdedup

    return semdedup(_t(spark, sf, "embeddings"), threshold=0.3)


def _semdedup_sql(n_lists=16, n_iter=2, threshold=0.3) -> str:
    """semdedup unrolled: the shared k-means CTEs, final assignment, then
    max cosine to lower-id same-cluster members — keep compares the RAW
    max against the threshold (bit-identical folds in both engines); the
    rounded column is display-only."""
    iters_sql, prev = _duck_kmeans_ctes(n_lists, n_iter)
    cos = _duck_cos("a.v", "b.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{iters_sql},
af AS {_duck_assign_cte(prev)},
sims AS (
  SELECT b.vec_id, max({cos}) AS mx
  FROM af a JOIN af b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  GROUP BY b.vec_id)
SELECT af.vec_id, af.cent_id,
       round(s.mx, 4) AS max_prior_sim,
       (s.mx IS NULL OR s.mx < {threshold}) AS keep
FROM af LEFT JOIN sims s USING (vec_id)
"""


# ---------------------------------------------------------------------------
# queries — per-format get_full_text parity (reference loaders' raw joins)
# ---------------------------------------------------------------------------
# The DuckDB oracle needs a span table; the driver's views only cover the
# flat tables, so these queries read a deterministically staged parquet of
# the span corpus (fixed 2000-doc parity corpus, seed 42) that oracle SQL
# references by absolute path. queries() stages it (pure pyarrow, no Spark).
SPAN_CORPUS_PATH = "/root/repo/.bench_cache/span_corpus_2000.parquet"


def _staged(spark):
    from docproc_spark.corpus import stage_parquet

    return spark.read.parquet(stage_parquet(SPAN_CORPUS_PATH, 2000))


def _fulltext_pdf(spark, sf):
    from docproc_spark.operators.fulltext import full_text_pdf

    return full_text_pdf(
        _staged(spark).filter(
            F.col("doc_type").isin("multi_page_pdf", "empty_pages_pdf")
        )
    )


_FULLTEXT_PDF_SQL = f"""
WITH d AS (SELECT doc_id, spans FROM read_parquet('{SPAN_CORPUS_PATH}')
           WHERE doc_type IN ('multi_page_pdf','empty_pages_pdf')),
s AS (SELECT doc_id, u.pos AS pos,
             spans[u.pos].page AS page, spans[u.pos]."offset" AS soff,
             spans[u.pos].text AS text, spans[u.pos].kind AS kind
      FROM d, LATERAL unnest(generate_series(1, len(spans))) AS u(pos)),
pages AS (SELECT DISTINCT doc_id, page FROM s),
pt AS (SELECT doc_id, page,
              string_agg(text, e'\n\n' ORDER BY soff, pos) AS page_text
       FROM s
       WHERE kind IN ('text','table','equation','header','footer',
                      'handwriting','unclassified')
         AND text IS NOT NULL
       GROUP BY doc_id, page)
SELECT p.doc_id,
       string_agg(coalesce(pt.page_text, ''), e'\n\n' ORDER BY p.page)
         AS full_text
FROM pages p LEFT JOIN pt ON p.doc_id = pt.doc_id AND p.page = pt.page
GROUP BY p.doc_id
"""


def _fulltext_docx(spark, sf):
    from docproc_spark.operators.fulltext import full_text_docx

    return full_text_docx(
        _staged(spark).filter(F.col("doc_type").isin("hello_docx", "tables_docx"))
    )


_FULLTEXT_DOCX_SQL = f"""
WITH d AS (SELECT doc_id, spans FROM read_parquet('{SPAN_CORPUS_PATH}')
           WHERE doc_type IN ('hello_docx','tables_docx')),
s AS (SELECT doc_id, u.pos AS pos, spans[u.pos].kind AS kind,
             spans[u.pos]."offset" AS soff, spans[u.pos].text AS text
      FROM d, LATERAL unnest(generate_series(1, len(spans))) AS u(pos))
SELECT doc_id,
  array_to_string(
    list_concat(
      coalesce(list(trim(text, e' \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f') ORDER BY soff, pos)
               FILTER (WHERE kind='text' AND text IS NOT NULL AND trim(text, e' \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f')<>''), []),
      coalesce(flatten(list(string_split(text, e'\n') ORDER BY soff, pos)
               FILTER (WHERE kind='table' AND text IS NOT NULL)), [])
    ), e'\n\n') AS full_text
FROM s GROUP BY doc_id
"""


def _fulltext_pptx(spark, sf):
    from docproc_spark.operators.fulltext import full_text_pptx

    return full_text_pptx(_staged(spark).filter(F.col("doc_type") == "slides_pptx"))


_FULLTEXT_PPTX_SQL = f"""
WITH d AS (SELECT doc_id, spans FROM read_parquet('{SPAN_CORPUS_PATH}')
           WHERE doc_type = 'slides_pptx'),
s AS (SELECT doc_id, u.pos AS pos, spans[u.pos].page AS page,
             spans[u.pos]."offset" AS soff, spans[u.pos].kind AS kind,
             spans[u.pos].text AS text
      FROM d, LATERAL unnest(generate_series(1, len(spans))) AS u(pos)),
slides AS (
  SELECT doc_id, page,
    array_to_string(
      flatten(list(
        CASE WHEN kind='text' AND trim(text, e' \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f')<>'' THEN [trim(text, e' \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f')]
             WHEN kind='table' THEN string_split(text, e'\n')
             ELSE [] END ORDER BY soff, pos)
        FILTER (WHERE text IS NOT NULL)),
      e'\n') AS slide_text
  FROM s GROUP BY doc_id, page)
SELECT doc_id,
  string_agg(slide_text, e'\n\n---\n\n' ORDER BY page)
    FILTER (WHERE slide_text <> '') AS full_text
FROM slides GROUP BY doc_id
"""


def _fulltext_xlsx(spark, sf):
    from docproc_spark.operators.fulltext import full_text_xlsx

    return full_text_xlsx(_staged(spark).filter(F.col("doc_type") == "sheets_xlsx"))


_FULLTEXT_XLSX_SQL = f"""
WITH d AS (SELECT doc_id, spans FROM read_parquet('{SPAN_CORPUS_PATH}')
           WHERE doc_type = 'sheets_xlsx'),
s AS (SELECT doc_id, u.pos AS pos, spans[u.pos].page AS page,
             spans[u.pos]."offset" AS soff, spans[u.pos].kind AS kind,
             spans[u.pos].text AS text
      FROM d, LATERAL unnest(generate_series(1, len(spans))) AS u(pos)),
sheets AS (
  SELECT doc_id, page,
    list_filter(
      list_transform(
        coalesce(flatten(list(string_split(text, e'\n') ORDER BY soff, pos)
                 FILTER (WHERE kind='table' AND text IS NOT NULL)), []),
        r -> trim(r, e' \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f')),
      r -> r <> '') AS srows
  FROM s GROUP BY doc_id, page),
parts AS (
  SELECT doc_id, page,
    CASE WHEN len(srows) > 0
         THEN '=== Sheet' || (page+1) || ' ===' || e'\n' || array_to_string(srows, e'\n')
         ELSE '' END AS part
  FROM sheets)
SELECT doc_id,
  string_agg(part, e'\n\n' ORDER BY page) FILTER (WHERE part <> '') AS full_text
FROM parts GROUP BY doc_id
"""


def _refine_symbols(spark, sf):
    """Mechanical refine subset: [Page N] strip + unicode→LaTeX table."""
    d = _staged(spark).filter(F.col("doc_type") == "unicode_math")
    rows = d.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", F.col("s.offset").alias("soff"), F.col("s.text").alias("text")
    )
    refined = F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"\[Page \d+\]\n?", "")
    from docproc_spark.kernels.refine import SYMBOL_TABLE

    for sym, latex in SYMBOL_TABLE:
        refined = F.replace(refined, F.lit(sym), F.lit(latex))
    return rows.select("doc_id", "soff", refined.alias("refined"))


def _refine_full(spark, sf):
    """Full refine orchestration (chunk → provider.chat → "\\n\\n" rejoin →
    failure fallback, reference llm_refine.py:156-201) with the stub chat
    model over documents marked into two synthetic pages; chunk_chars=150
    forces a chunk boundary between the pages."""
    from docproc_spark.operators.refine import refine_table

    d = _t(spark, sf, "documents")
    marked = F.concat(
        F.lit("[Page 1]\n"),
        F.substring("text", 1, 200),
        F.when(
            F.length("text") > 200,
            F.concat(F.lit("\n[Page 2]\n"), F.expr("substring(text, 201)")),
        ).otherwise(F.lit("")),
    )
    docs = d.select("doc_id", marked.alias("markdown"))
    return refine_table(docs, chunk_chars=150)


# The stub chat model applies the mechanical rules per chunk; on this ASCII
# corpus (no LaTeX symbols, no literal "[Page" in the text — verified) the
# expected output reduces to trimmed page halves rejoined with "\n\n".
_REFINE_FULL_SQL = """
WITH m AS (
  SELECT doc_id,
         trim(substr(text, 1, 200), e' \t\n\r') AS p1,
         CASE WHEN length(text) > 200
              THEN trim(substr(text, 201, length(text)), e' \t\n\r')
              ELSE '' END AS p2
  FROM documents
)
SELECT doc_id,
       CASE WHEN p2 <> '' THEN p1 || e'\n\n' || p2 ELSE p1 END AS refined
FROM m
"""


def _refine_symbols_sql() -> str:
    from docproc_spark.kernels.refine import SYMBOL_TABLE

    expr = "regexp_replace(coalesce(u.text,''), '\\[Page \\d+\\]\\n?', '', 'g')"
    for sym, latex in SYMBOL_TABLE:
        lat = latex.replace("\\", "\\\\")
        expr = f"replace({expr}, '{sym}', e'{lat}')"
    return f"""
WITH d AS (SELECT doc_id, spans FROM read_parquet('{SPAN_CORPUS_PATH}')
           WHERE doc_type = 'unicode_math')
SELECT doc_id, u."offset" AS soff, {expr} AS refined
FROM (SELECT doc_id, unnest(spans) AS u FROM d)
"""


# ---------------------------------------------------------------------------
# queries — embedding near-dup
# ---------------------------------------------------------------------------
def _neardup_cosine(spark, sf):
    from docproc_spark.operators.similarity import cosine_neardup_pairs_exact

    return cosine_neardup_pairs_exact(_t(spark, sf, "embeddings"), threshold=0.4)


_NEARDUP_COSINE_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT x.vec_id AS a, y.vec_id AS b,
  round(
    list_reduce(list_transform(list_zip(x.v, y.v), p -> p[1]*p[2]), (s,t) -> s+t)
    / (sqrt(list_reduce(list_transform(x.v, q -> q*q), (s,t) -> s+t))
       * sqrt(list_reduce(list_transform(y.v, q -> q*q), (s,t) -> s+t))), 4) AS cos_sim
FROM e x JOIN e y ON x.vec_id < y.vec_id
WHERE round(
    list_reduce(list_transform(list_zip(x.v, y.v), p -> p[1]*p[2]), (s,t) -> s+t)
    / (sqrt(list_reduce(list_transform(x.v, q -> q*q), (s,t) -> s+t))
       * sqrt(list_reduce(list_transform(y.v, q -> q*q), (s,t) -> s+t))), 4) >= 0.4
"""


def _neardup_cosine_lsh(spark, sf):
    from docproc_spark.operators.similarity import cosine_neardup_pairs_lsh

    return cosine_neardup_pairs_lsh(
        _emb64(spark, sf), threshold=0.4, n_bands=6, planes_per_band=3
    )


def _ivf_topk(spark, sf):
    from docproc_spark.operators.similarity import ivf_topk

    return ivf_topk(_emb64(spark, sf), query_vec_id=0, k=10)


def _cached_index(prefix: str, sf: str, src_name: str, build_fn) -> str:
    """Deterministic on-disk cache for a built index — ONE scaffold for
    every index-backed spare. Key = (sf basename, source parquet
    size+mtime_ns): a version-only key would keep serving an index built
    from a REGENERATED corpus while the DuckDB oracle reads the new one
    (a spurious, hard-to-diagnose gate failure), and mtime_ns (not
    seconds) so a same-second regeneration with identical size cannot
    silently reuse stale data. The build goes to a private tmp dir and
    commits by rename (root _SUCCESS probed), so concurrent runs sharing
    the key only ever see a COMPLETE index dir and a crashed partial
    build is repaired, not served."""
    import os

    key = sf.rstrip("/").rsplit("/", 1)[-1]
    src = f"{sf.rstrip('/')}/{src_name}"
    try:
        st = os.stat(src)
        data_key = f"{st.st_size}_{st.st_mtime_ns}"
    except OSError:
        data_key = "nostat"
    path = f"/root/repo/.bench_cache/{prefix}_{key}_{data_key}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from docproc_spark.streaming.events import _commit_staging_dir

        tmp = f"{path}.tmp-{os.getpid()}"
        build_fn(tmp)
        path = _commit_staging_dir(tmp, path)
    return path


def _lsh_index_ann(spark, sf):
    """Persisted-index ANN: build once (partitioned by band/bucket), then a
    partition-PRUNED scan + exact re-rank — the 100-TB query path.
    (v2: plane scheme is md5 — cross-engine determinism.)"""
    from docproc_spark.operators.similarity import build_lsh_index, lsh_index_topk

    emb = _emb64(spark, sf)
    path = _cached_index(
        "lsh_index_v2",
        sf,
        "embeddings.parquet",
        lambda tmp: build_lsh_index(
            emb, tmp, n_bands=12, planes_per_band=3, dims=_EMB_DIMS
        ),
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return lsh_index_topk(
        spark, path, qvec, k=10, n_bands=12, planes_per_band=3, exclude_vec_id=0
    )


def _lang_pred_ngram(spark, sf):
    """Character-trigram language profiler (pandas-UDF path)."""
    from docproc_spark.functions.text import lang_id_ngram_udf

    d = _t(spark, sf, "documents")
    return d.select("doc_id", "lang", lang_id_ngram_udf(F.col("text")).alias("lang_pred"))


def _sanitize_llm(spark, sf):
    """Prompt-injection strip + token-budget truncate (pandas-UDF kernel)."""
    from pyspark.sql import types as T

    from docproc_spark.kernels.llm_input import sanitize_for_llm_series

    @F.pandas_udf(T.StringType())
    def udf(s: pd.Series) -> pd.Series:
        return sanitize_for_llm_series(s, max_tokens=50)

    d = _t(spark, sf, "documents")
    return d.select("doc_id", udf(F.col("text")).alias("safe_text"))


# ---------------------------------------------------------------------------
# queries — extraction pipeline (non-SQL-expressible → rows-only checks)
# ---------------------------------------------------------------------------
FLAGSHIP_EXPECTED_PATH = "/root/repo/.bench_cache/flagship_expected_2000.parquet"


def _extract_flagship(spark, sf):
    """Flagship pipeline, hash-checked against the staged single-process
    oracle output: md_hash covers the exact markdown bytes, span_hash the
    full ordered (kind, text, media_ref, offset) span sequence."""
    from docproc_spark.corpus import corpus_df
    from docproc_spark.oracle import stage_flagship_expected
    from docproc_spark.pipeline import extract

    # fixed 2000-doc parity corpus at every sf (same convention as the
    # fulltext queries' staged span corpus — the static oracle SQL must
    # read one known table); staging is pure-python, idempotent,
    # version-keyed. Throughput at scale is bench.py's separate job.
    stage_flagship_expected(FLAGSHIP_EXPECTED_PATH, 2000)
    res = extract(corpus_df(spark, 2000, seed=42, mega_spans=2000))
    span_strs = F.transform(
        F.col("spans"),
        lambda s: F.concat_ws(
            "\x1f",
            s["kind"],
            s["text"],
            F.coalesce(s["media_ref"], F.lit("")),
            s["offset"].cast("string"),
        ),
    )
    return res.select(
        "doc_id",
        F.col("n_pages").cast("long").alias("n_pages"),
        F.size("spans").cast("long").alias("n_spans"),
        F.md5(F.col("markdown")).alias("md_hash"),
        F.md5(F.array_join(span_strs, "\x1e")).alias("span_hash"),
    )


_FLAGSHIP_SQL = f"""
SELECT doc_id, n_pages, n_spans, md_hash, span_hash
FROM read_parquet('{FLAGSHIP_EXPECTED_PATH}')
"""


def _media_meta(spark, sf):
    """Multimodal plumbing: binary blobs → typed metadata. The decode is a
    deterministic sha256-derived stub, so even this is ORACLED: DuckDB
    recomputes width/height/duration from the same digest bytes."""
    from docproc_spark.functions.media import extract_media_meta

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("blob"),
        F.lit("image").alias("media_kind"),
    )
    return extract_media_meta(d)


_MEDIA_META_SQL = """
WITH b AS (
  SELECT sha256(coalesce(text, '')) AS h,
         octet_length(encode(coalesce(text, ''))) AS nb
  FROM documents
)
SELECT h AS media_ref,
       'image' AS media_kind,
       CAST(nb AS BIGINT) AS n_bytes,
       64 + CAST(concat('0x', substr(h, 1, 2)) AS INT) * 4 AS width,
       64 + CAST(concat('0x', substr(h, 3, 2)) AS INT) * 4 AS height,
       CAST(concat('0x', substr(h, 5, 4)) AS BIGINT) AS duration_ms
FROM b
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
# NOTE — the driver records at most 50 queries (CORRECTNESS_r02 had exactly
# 50 rows, missing exactly the last 3 insertion-order keys even though all
# 53 were registered before the run). Keep this dict at EXACTLY 50 entries;
# operators beyond the cap stay pytest-covered (q6/q14 scalar TPC-H
# variants, inline lsh_topk — superseded by the persisted-index query).
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q1_pricing_summary": _q1,
    "q3_top_revenue_orders": _q3,
    "q5_region_revenue": _q5,
    "lsh_index_ann_topk": _lsh_index_ann,
    "sanitize_for_llm": _sanitize_llm,
    "lang_pred_ngram": _lang_pred_ngram,
    "top3_orders_per_customer": _top3_orders,
    "pivot_returnflag": _pivot_returnflag,
    "orders_rollup": _orders_rollup,
    "q10_returned_revenue": _q10_returned_revenue,
    "customers_without_orders": _customers_without_orders,
    "customers_with_urgent_orders": _customers_with_urgent,
    "session_stats": _session_stats,
    "events_hourly": _events_hourly,
    "events_asof_purchase": _events_asof,
    "events_quantiles": _events_quantiles,
    "lineitem_cube": _lineitem_cube,
    "events_windowed_stream": _events_windowed_stream,
    "sessions_stream": _sessions_stream,
    "events_stream_dedupe": _events_stream_dedupe,
    "events_stream_join": _events_stream_join,
    "doc_stats": _doc_stats,
    "doc_quality": _doc_quality,
    "lang_pred_markers": _lang_pred,
    "doc_fingerprints": _fingerprints,
    "doc_rolling_fingerprint": _rolling_fp,
    "curation_pipeline": _curation_pipeline,
    "gopher_quality_flags": _gopher_quality,
    "docs_hash_sample": _docs_hash_sample,
    "exact_dup_groups": _exact_dup_groups,
    "first_wins_dedupe": _first_wins,
    "minhash_signatures": _minhash_signatures,
    "minhash_band_stats": _minhash_bands,
    "ngram_jaccard_pairs": _ngram_jaccard,
    "neardup_minhash_verified": _neardup_minhash_verified,
    "dup_clusters": _dup_clusters,
    "simhash64": _simhash,
    "simhash_neardup_pairs": _simhash_pairs,
    "cosine_topk": _cosine_topk,
    "extract_flagship": _extract_flagship,
    "media_meta_stub": _media_meta,
    "fulltext_pdf": _fulltext_pdf,
    "fulltext_docx": _fulltext_docx,
    "fulltext_pptx": _fulltext_pptx,
    "fulltext_xlsx": _fulltext_xlsx,
    "refine_symbols": _refine_symbols,
    "refine_full": _refine_full,
    "neardup_cosine_exact": _neardup_cosine,
    "neardup_cosine_lsh": _neardup_cosine_lsh,
    "ivf_ann_topk": _ivf_topk,
}

_ORACLES: dict[str, str] = {
    "q1_pricing_summary": _Q1_SQL,
    "q3_top_revenue_orders": _Q3_SQL,
    "q5_region_revenue": _Q5_SQL,
    "lsh_index_ann_topk": _lsh_index_ann_sql(),
    "neardup_cosine_lsh": _neardup_lsh_sql(),
    "ivf_ann_topk": _ivf_ann_sql(),
    "top3_orders_per_customer": _TOP3_SQL,
    "pivot_returnflag": _PIVOT_SQL,
    "orders_rollup": _ROLLUP_SQL,
    "q10_returned_revenue": _Q10_SQL,
    "customers_without_orders": _ANTI_SQL,
    "customers_with_urgent_orders": _SEMI_SQL,
    "session_stats": _SESSION_SQL,
    "events_hourly": _EVENTS_HOURLY_SQL,
    "events_asof_purchase": _EVENTS_ASOF_SQL,
    "events_quantiles": _EVENTS_QUANTILES_SQL,
    "lineitem_cube": _CUBE_SQL,
    "events_windowed_stream": _EVENTS_WINDOWED_SQL,
    "sessions_stream": _SESSIONS_STREAM_SQL,
    "events_stream_dedupe": _EVENTS_STREAM_DEDUPE_SQL,
    "events_stream_join": _EVENTS_STREAM_JOIN_SQL,
    "doc_stats": _DOC_STATS_SQL,
    "doc_quality": _DOC_QUALITY_SQL,
    "lang_pred_markers": _LANG_PRED_SQL,
    "doc_fingerprints": _FP_SQL,
    "doc_rolling_fingerprint": _ROLLING_FP_SQL,
    "curation_pipeline": _CURATION_SQL,
    "gopher_quality_flags": _GOPHER_SQL,
    "docs_hash_sample": _HASH_SAMPLE_SQL,
    "exact_dup_groups": _EXACT_DUP_SQL,
    "first_wins_dedupe": _FIRST_WINS_SQL,
    "minhash_signatures": _MINHASH_SQL,
    "minhash_band_stats": _MINHASH_BANDS_SQL,
    "ngram_jaccard_pairs": _NGRAM_JACCARD_SQL,
    "neardup_minhash_verified": _NEARDUP_MINHASH_SQL,
    "dup_clusters": _dup_clusters_sql(),
    "cosine_topk": _COSINE_SQL,
    "fulltext_pdf": _FULLTEXT_PDF_SQL,
    "fulltext_docx": _FULLTEXT_DOCX_SQL,
    "fulltext_pptx": _FULLTEXT_PPTX_SQL,
    "fulltext_xlsx": _FULLTEXT_XLSX_SQL,
    "refine_symbols": _refine_symbols_sql(),
    "refine_full": _REFINE_FULL_SQL,
    "neardup_cosine_exact": _NEARDUP_COSINE_SQL,
    "simhash64": _simhash_sql(),
    "simhash_neardup_pairs": _simhash_pairs_sql(),
    "lang_pred_ngram": _lang_ngram_sql(),
    "sanitize_for_llm": _sanitize_llm_sql(),
    "extract_flagship": _FLAGSHIP_SQL,
    "media_meta_stub": _MEDIA_META_SQL,
    # every registered query is oracle-checked: the ANN family became
    # SQL-expressible once planes moved to md5-mixing and the k-means mean
    # to a sorted fold (see operators/similarity.py module docstring).
}


def _lsh_ann_topk(spark, sf):
    """Inline (index-less) LSH ANN — same banding/params as the persisted
    lsh_index_ann_topk, so it shares that oracle."""
    from docproc_spark.operators.similarity import lsh_topk

    return lsh_topk(
        _emb64(spark, sf), query_vec_id=0, k=10, n_bands=12, planes_per_band=3
    )


def _line_dedupe(spark, sf):
    """C4-style cross-document repeated-line removal (operators/dedupe.
    drop_repeated_lines). The synthetic documents corpus has no cross-doc
    repeated lines, so the oracle here verifies the reassembly path is a
    faithful identity (clean_text == text modulo CR, n_removed == 0);
    the positive removal path is unit-tested with hand-built corpora in
    tests/test_operators.py."""
    from docproc_spark.operators.dedupe import drop_repeated_lines

    return drop_repeated_lines(_t(spark, sf, "documents"), min_count=3)


_LINE_DEDUPE_SQL = """
WITH src AS (
  SELECT doc_id, string_split(replace(coalesce(text, ''), chr(13), ''), chr(10)) AS ls
  FROM documents
), lines AS (
  SELECT s.doc_id, u.pos, s.ls[u.pos] AS line
  FROM src s, LATERAL unnest(generate_series(1, len(s.ls))) AS u(pos)
), freq AS (
  SELECT trim(line) AS norm FROM lines WHERE trim(line) <> ''
  GROUP BY 1 HAVING count(*) >= 3
)
SELECT l.doc_id,
       coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
                FILTER (WHERE f.norm IS NULL), '') AS clean_text,
       count(*) FILTER (WHERE f.norm IS NOT NULL) AS n_removed
FROM lines l LEFT JOIN freq f ON trim(l.line) = f.norm
GROUP BY l.doc_id
"""


# Over-cap spares: correct and oracled, but kept OUT of queries() — the
# driver records at most 50 entries (see the note above _QUERIES). pytest
# keeps them green (tests/test_queries.py parametrizes over spare_queries()).
def _pii_redacted(spark, sf):
    """Dolma/RedPajama-style PII masking (functions/text.redact_pii):
    emails → [EMAIL], IPv4 → [IP], phones → [PHONE], sequentially, with
    per-stage counts. The synthetic documents corpus contains NO PII
    matches at any sf, so this oracle verifies the identity path only
    (clean_text == text, all counts 0); the positive masking path is
    unit-tested (tests/test_operators.py::test_redact_pii) and the
    patterns are boundary-free specifically so Java and RE2 agree (\b
    word-char sets differ — see functions/text.py)."""
    from docproc_spark.functions.text import redact_pii

    return redact_pii(_t(spark, sf, "documents"))


_PII_SQL = r"""
WITH s0 AS (SELECT doc_id, coalesce(text, '') AS t0 FROM documents),
s1 AS (SELECT doc_id,
       len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
       regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
       FROM s0),
s2 AS (SELECT doc_id, n_emails,
       len(regexp_extract_all(t1, '(?:\d{1,3}\.){3}\d{1,3}')) AS n_ips,
       regexp_replace(t1, '(?:\d{1,3}\.){3}\d{1,3}', '[IP]', 'g') AS t2
       FROM s1)
SELECT doc_id,
       regexp_replace(t2, '\+?\d{1,3}[-. (]{0,2}\d{3}[-. )]{0,2}\d{3}[-. ]?\d{4}', '[PHONE]', 'g') AS clean_text,
       n_emails::BIGINT AS n_emails, n_ips::BIGINT AS n_ips,
       len(regexp_extract_all(t2, '\+?\d{1,3}[-. (]{0,2}\d{3}[-. )]{0,2}\d{3}[-. ]?\d{4}'))::BIGINT AS n_phones
FROM s2
"""


def _repeated_windows(spark, sf):
    """ExactSubstr-proxy: corpus-wide repeated 16-token window fraction
    per document (operators/dedupe.repeated_window_fraction)."""
    from docproc_spark.operators.dedupe import repeated_window_fraction

    return repeated_window_fraction(_t(spark, sf, "documents"))


_REPEATED_WINDOWS_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_transform(range(0, greatest(len({_TOKS}) - 16, 0) + 1),
                i -> md5(array_to_string(({_TOKS})[i+1:i+16], ' ')))) AS h
  FROM documents
), freq AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2)
SELECT s.doc_id,
       count(*)::BIGINT AS n_windows,
       count(f.h)::BIGINT AS n_repeated,
       floor(count(f.h) * 10000 / count(*)) / 10000 AS repeated_frac
FROM sh s LEFT JOIN freq f ON s.h = f.h
GROUP BY s.doc_id
"""


def _pack_sequences(spark, sf):
    """Pre-training sequence packing (operators/packing.pack_sequences):
    every doc's global token offset and chunk range under "concatenate in
    doc_id order, slice into 512-token sequences". The Spark plan is the
    scale-safe two-pass form (bucketed prefix sums, window per bucket, no
    global-order single-reducer window); the oracle is the direct global
    window — bit-equality proves the decomposition."""
    from docproc_spark.operators.packing import pack_sequences

    return pack_sequences(_t(spark, sf, "documents"), 512, n_buckets=16)


_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens FROM documents
), nz AS (SELECT * FROM t WHERE n_tokens > 0),
c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS start_offset
  FROM nz)
SELECT doc_id, n_tokens, start_offset,
       (start_offset + n_tokens)::BIGINT AS end_offset,
       (start_offset // 512)::BIGINT AS first_chunk,
       ((start_offset + n_tokens - 1) // 512)::BIGINT AS last_chunk,
       (((start_offset + n_tokens - 1) // 512) - (start_offset // 512)
        + 1)::INT AS n_chunks
FROM c
"""


def _cap_per_source(spark, sf):
    """Per-source quota sampling (operators/packing.cap_per_group): keep
    at most 12 docs per source, chosen by the engine-portable md5(doc_id)
    order (uniform, bit-identical in Spark and DuckDB)."""
    from docproc_spark.operators.packing import cap_per_group

    return cap_per_group(_t(spark, sf, "documents"), group_col="source", k=12)


_CAP_SQL = """
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *, row_number() OVER (
      PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS _rn
  FROM documents) WHERE _rn <= 12
"""


def _embeddings_quantized(spark, sf):
    """Per-vector symmetric int8 quantization (operators/quantize.py):
    the 4x storage/shuffle cut for serving-scale ANN. floor(x+0.5)
    rounding and staged-amax lambdas keep it engine-identical and O(dims)
    per vector. qvec is CSV-serialized for the comparison only (the
    harness sorts column values; arrays aren't orderable there)."""
    from pyspark.sql import functions as F

    from docproc_spark.operators.quantize import quantize_embeddings

    q = quantize_embeddings(_t(spark, sf, "embeddings"))
    return q.select(
        "vec_id",
        F.array_join(F.transform("qvec", lambda x: x.cast("string")), ",").alias(
            "qvec_csv"
        ),
        "scale",
    )


_QUANTIZE_SQL = """
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
  FROM embeddings)
SELECT vec_id,
       array_to_string(
         CASE WHEN amax > 0 AND amax < 'infinity'::DOUBLE
              THEN list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * 127.0::DOUBLE / amax
                                     + 0.5::DOUBLE) AS TINYINT))
              ELSE list_transform(embedding, x -> CAST(0 AS TINYINT))
         END, ',') AS qvec_csv,
       CASE WHEN amax > 0 AND amax < 'infinity'::DOUBLE
            THEN amax / 127.0::DOUBLE ELSE 0.0::DOUBLE END AS scale
FROM s
"""


def _decontaminated(spark, sf):
    """Benchmark decontamination (operators/dedupe.decontaminate): 13-gram
    overlap vs a deterministic in-corpus "benchmark" slice (doc_id % 97 =
    0). The corpus carries exact-duplicate documents, so the positive
    path fires (benchmark members flag themselves AND their duplicates);
    everything else comes through contaminated = false."""
    from docproc_spark.operators.dedupe import decontaminate

    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, n=13)


# null-safe token list for the decontamination oracle: the operator
# coalesces NULL text to '' on both sides (see operators/dedupe.
# decontaminate), so its oracle must too — with bare trim(text) a NULL
# doc's shingle hash is NULL (inert in the join) while Spark emits
# md5('') and the contaminated flags diverge
_NTOKS = _TOKS.replace("trim(text)", "trim(coalesce(text, ''))")

_DECONTAM_SQL = f"""
WITH bh AS (
  SELECT DISTINCT
         unnest(list_transform(range(0, greatest(len({_NTOKS}) - 13, 0) + 1),
                i -> md5(array_to_string(({_NTOKS})[i+1:i+13], ' ')))) AS bh
  FROM documents WHERE doc_id % 97 = 0
), sh AS (
  SELECT doc_id,
         unnest(list_transform(range(0, greatest(len({_NTOKS}) - 13, 0) + 1),
                i -> md5(array_to_string(({_NTOKS})[i+1:i+13], ' ')))) AS h
  FROM documents
)
SELECT s.doc_id,
       count(*)::BIGINT AS n_windows,
       count(b.bh)::BIGINT AS n_contaminated,
       count(b.bh) > 0 AS contaminated
FROM sh s LEFT JOIN bh b ON s.h = b.bh
GROUP BY s.doc_id
"""


def _rebalanced(spark, sf):
    """Deterministic mixture rebalancing (operators/sampling.
    rebalance_to_targets): downsample sources src0/src1/src2 to a
    50/30/20 output mixture. All three groups have 25 docs, so the
    acceptance fractions are exactly (1.0, 0.6, 0.4) — the src0 keep-all
    edge and two genuine hash-thinned groups in one query."""
    from docproc_spark.operators.sampling import rebalance_to_targets

    return rebalance_to_targets(
        _t(spark, sf, "documents"), {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    )


_REBALANCE_SQL = """
WITH tgt AS (
  SELECT * FROM (VALUES ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE),
                        ('src2', 0.2::DOUBLE)) t(source, _t)
), counts AS (
  SELECT source, count(*)::BIGINT AS _c FROM documents GROUP BY source
), j AS (
  SELECT t.source, coalesce(c._c, 0)::BIGINT AS _c, t._t
  FROM tgt t LEFT JOIN counts c ON t.source = c.source
), s AS (SELECT min(_c / _t) AS _s FROM j),
frac AS (
  SELECT source,
         CASE WHEN _c > 0 THEN _t * _s / _c ELSE 0.0::DOUBLE END AS _p
  FROM j CROSS JOIN s)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d JOIN frac f ON d.source = f.source
WHERE CAST(concat('0x', substr(md5(coalesce(CAST(d.doc_id AS VARCHAR),
                                            chr(0) || 'null')), 1, 8)) AS BIGINT)
      < CAST(floor(f._p * 4294967296.0::DOUBLE) AS BIGINT)
"""


def _keywords(spark, sf):
    """Per-document tf-idf-style keywords (functions/text.top_keywords,
    k=3): integer score tf*(N-df) — rank-deterministic across engines
    where ln()-based tf-idf is not (1-ulp libm differences flip ranks)."""
    from docproc_spark.functions.text import top_keywords

    return top_keywords(_t(spark, sf, "documents"), k=3)


_KEYWORDS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_LTOKS}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token
), n AS (SELECT count(*)::BIGINT AS _n FROM documents)
SELECT doc_id, token, tf, df, score, "rank" FROM (
  SELECT t.doc_id, t.token, t.tf, f.df,
         t.tf * (n._n - f.df) AS score,
         CAST(row_number() OVER (
             PARTITION BY t.doc_id
             ORDER BY t.tf * (n._n - f.df) DESC, f.df ASC, t.token ASC
         ) AS INT) AS "rank"
  FROM tf t JOIN dfreq f USING (token) CROSS JOIN n)
WHERE "rank" <= 3
"""


def _rag_chunks(spark, sf):
    """Token-window RAG chunking (operators/packing.chunk_documents):
    32-token windows with 8-token overlap — small enough that the sf
    corpus (max 99 tokens/doc) exercises the multi-chunk + overlap path,
    not just the single-window degenerate case. The operator's defaults
    (512/64) are the rag config block's chunk_size."""
    from docproc_spark.operators.packing import chunk_documents

    return chunk_documents(_t(spark, sf, "documents"), 32, 8)


_RAG_CHUNKS_SQL = f"""
WITH b AS (
  SELECT doc_id, {_NTOKS} AS toks, len({_NTOKS}) AS n FROM documents
), nz AS (SELECT * FROM b WHERE n > 0),
st AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, greatest(n - 8 - 1, 0), 24)) AS s
  FROM nz)
SELECT doc_id,
       CAST(s // 24 AS INT) AS chunk_id,
       array_to_string(toks[s+1:s+32], ' ') AS chunk_text,
       CAST(len(toks[s+1:s+32]) AS INT) AS n_tokens
FROM st
"""


def _hash_embed(spark, sf):
    """Feature-hashing embeddings (functions/text.hash_embed, dims=16),
    exploded to (doc_id, dim, val) — doubles compare bit-exactly across
    engines where a double→string CSV would diverge on formatting."""
    from docproc_spark.functions.text import hash_embed

    e = hash_embed(_t(spark, sf, "documents"), dims=16)
    return e.select(
        "doc_id", F.posexplode("embedding").alias("dim", "val")
    )


_HASH_EMBED_CTES = f"""b AS (
  SELECT doc_id,
         list_transform({_LTOKS}, t -> struct_pack(
             bucket := CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 16,
             sign := 1 - 2 * (CAST(concat('0x', substr(md5(t), 9, 1)) AS BIGINT) % 2)
         )) AS bs
  FROM documents
), r AS (
  SELECT doc_id,
         list_transform(range(0, 16), d ->
           CAST(list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(bs, x ->
                      CASE WHEN x.bucket = d THEN x.sign
                           ELSE CAST(0 AS BIGINT) END)),
                  (a, v) -> a + v) AS DOUBLE)) AS raw
  FROM b
), nm AS (
  SELECT doc_id, raw,
         sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(raw, x -> x * x)), (a, v) -> a + v)) AS nrm
  FROM r
), v AS (
  SELECT doc_id,
         CASE WHEN nrm > 0 THEN list_transform(raw, x -> x / nrm)
              ELSE raw END AS vec
  FROM nm)"""

_HASH_EMBED_SQL = f"""
WITH {_HASH_EMBED_CTES}
SELECT doc_id, CAST(u.i - 1 AS INT) AS dim, v.vec[u.i] AS val
FROM v, LATERAL unnest(generate_series(1, len(v.vec))) AS u(i)
"""


_BM25_QUERY = "shuffle partition scan"


def _bm25(spark, sf):
    """BM25-shaped lexical top-10 (operators/retrieval.bm25_topk) for a
    fixed query over the documents corpus — the rational-idf surrogate
    keeps every arithmetic step IEEE-exact, so scores (not just ranks)
    match the oracle bit-for-bit."""
    from docproc_spark.operators.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf, "documents"), _BM25_QUERY, k=10)


def _bm25_sql(query: str, k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB mirror of bm25_topk, generated from the SAME term list and
    constants (sorted distinct tokens; left-assoc sums and the exact
    parenthesization of the Spark expression — float addition is not
    associative, so term order IS part of the contract)."""
    from docproc_spark.operators.retrieval import query_terms

    terms = query_terms(query)
    tf_cols = ",\n         ".join(
        f"len(list_filter(lt, x -> x = '{t}'))::BIGINT AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df{i}"
        for i in range(len(terms))
    )
    parts = " + ".join(
        f"((((n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i}) * {k1 + 1.0!r})"
        f" / (tf{i} + ({k1!r} * ({1.0 - b!r} + (({b!r} * dl)"
        f" / (CAST(sdl AS DOUBLE) / n)))))"
        for i in range(len(terms))
    )
    return f"""
WITH d AS (
  SELECT doc_id, {_LTOKS} AS lt FROM documents
), t AS (
  SELECT doc_id, len(lt)::BIGINT AS dl,
         {tf_cols}
  FROM d
), s AS (
  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl,
         {df_cols}
  FROM t
), sc AS (
  SELECT t.doc_id, {parts} AS score
  FROM t CROSS JOIN s)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS "rank"
FROM sc WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT {k}
"""


def _bm25_indexed(spark, sf):
    """Same query served from the inverted index (build_text_index →
    bm25_topk_indexed) — the oracle is the SAME scan-path SQL, so a green
    row proves the indexed path is bit-equal to the batch scorer."""
    from docproc_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_text_index,
    )

    postings, doclens = build_text_index(
        _t(spark, sf, "documents"), n_term_buckets=64
    )
    return bm25_topk_indexed(postings, doclens, _BM25_QUERY, k=10)


def _hash_embed_query_py(text: str, dims: int = 16) -> list[float]:
    """Python twin of functions/text.hash_embed for a single query
    string: the resulting floats are embedded as LITERALS in both the
    Spark plan and the oracle SQL (repr round-trips doubles exactly), so
    the query vector itself carries zero cross-engine risk."""
    import hashlib as _hl
    import math as _math

    raw = [0] * dims
    for t in text.lower().split():
        h = _hl.md5(t.encode("utf-8")).hexdigest()
        raw[int(h[:8], 16) % dims] += 1 - 2 * (int(h[8], 16) % 2)
    nrm = _math.sqrt(sum(float(x) * float(x) for x in raw))
    if nrm > 0:
        return [x / nrm for x in raw]
    return [float(x) for x in raw]


def _hybrid(spark, sf):
    """Hybrid retrieval: RRF fusion (operators/retrieval.rrf_fuse) of the
    BM25 lexical top-10 and the dense top-10 (hash_embed doc vectors
    scored against the query's literal hash_embed vector by the same
    left-fold dot product the ANN family uses). Ranks, not scores, cross
    the fusion boundary, and 1/(60+rank) sums are fixed-order doubles —
    the whole composition stays bit-exact in DuckDB."""
    from pyspark.sql import Window

    from docproc_spark.functions.text import hash_embed
    from docproc_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = _t(spark, sf, "documents")
    lex = bm25_topk(docs, _BM25_QUERY, k=10)
    qv = _hash_embed_query_py(_BM25_QUERY, 16)
    emb = hash_embed(docs, dims=16)
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.array(*[F.lit(x) for x in qv]),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    top = (
        emb.select("doc_id", dot.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("doc_id"))
        .limit(10)
    )
    dense = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("cos").desc(), F.col("doc_id"))),
    )
    return rrf_fuse([lex, dense], k=10)


def _hybrid_sql(query: str) -> str:
    """DuckDB mirror of _hybrid: the scan-path BM25 SQL as a nested CTE,
    the shared hash_embed CTE chain for doc vectors, the same literal
    query vector, and the same fixed-order RRF arithmetic."""
    qv = _hash_embed_query_py(query, 16)
    qlits = ", ".join(repr(x) for x in qv)
    return f"""
WITH {_HASH_EMBED_CTES},
bm AS ({_bm25_sql(query)}),
q AS (SELECT [{qlits}]::DOUBLE[] AS qv),
dns AS (
  SELECT doc_id,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(range(1, 17), i -> vec[i] * qv[i])),
           (a, x) -> a + x) AS cos
  FROM v CROSS JOIN q
), dn AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT) AS rnk
  FROM dns
  ORDER BY cos DESC, doc_id
  LIMIT 10
), f AS (
  SELECT coalesce(bm.doc_id, dn.doc_id) AS doc_id,
         (coalesce(CAST(1.0 AS DOUBLE) / (60 + bm."rank"), CAST(0.0 AS DOUBLE))
          + coalesce(CAST(1.0 AS DOUBLE) / (60 + dn.rnk), CAST(0.0 AS DOUBLE)))
           AS rrf_score
  FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id)
SELECT doc_id, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS "rank"
FROM f
ORDER BY rrf_score DESC, doc_id
LIMIT 10
"""


def _remove_repeated(spark, sf):
    """ExactSubstr-style repeated-window removal
    (operators/dedupe.remove_repeated_windows): tokens covered by a
    corpus-repeated 16-token shingle are deleted; the cleaned text plus
    removal counts come back for every document."""
    from docproc_spark.operators.dedupe import remove_repeated_windows

    return remove_repeated_windows(_t(spark, sf, "documents"))


_REMOVE_REPEATED_SQL = f"""
WITH d0 AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
), d AS (
  SELECT doc_id, {_TOKS} AS tk FROM d0
), sh AS (
  SELECT doc_id, u.pos,
         md5(array_to_string(tk[u.pos+1:u.pos+16], ' ')) AS h
  FROM d, LATERAL unnest(generate_series(0, greatest(len(tk) - 16, 0))) AS u(pos)
), freq AS (
  SELECT h FROM sh GROUP BY h HAVING count(*) >= 2
), cov AS (
  SELECT DISTINCT s.doc_id, v.tidx
  FROM sh s JOIN freq f ON s.h = f.h,
       LATERAL unnest(generate_series(s.pos, s.pos + 15)) AS v(tidx)
), drops AS (
  SELECT doc_id, list(tidx) AS dl FROM cov GROUP BY doc_id
), outp AS (
  SELECT d.doc_id, d.tk,
         CASE WHEN drops.dl IS NULL THEN d.tk
              ELSE list_filter(d.tk, (x, i) -> NOT list_contains(drops.dl, i - 1))
         END AS kept
  FROM d LEFT JOIN drops ON d.doc_id = drops.doc_id)
SELECT doc_id,
       -- DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''
       coalesce(array_to_string(kept, ' '), '') AS text_clean,
       len(tk)::BIGINT AS n_tokens,
       (len(tk) - len(kept))::BIGINT AS n_removed
FROM outp
"""


def _lm_buckets(spark, sf):
    """CCNet-style LM quality tiles (functions/text.lm_surprisal_buckets):
    corpus-trained bigram LM, integer bit-count surprisal (no floats
    anywhere — floor(log2(d/n)) via binary-string length), NTILE(3)
    head/middle/tail by mean millibits."""
    from docproc_spark.functions.text import lm_surprisal_buckets

    return lm_surprisal_buckets(_t(spark, sf, "documents"), n_buckets=3)


_LM_BUCKETS_SQL = f"""
WITH d AS (
  SELECT doc_id, {_LTOKS} AS lt FROM documents
), bgx AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(lt)), i -> lt[i] || ' ' || lt[i+1])) AS bg
  FROM d WHERE len(lt) >= 2
), uni AS (
  SELECT w, count(*)::BIGINT AS c1
  FROM (SELECT unnest(lt) AS w FROM d) GROUP BY w
), voc AS (
  SELECT count(*)::BIGINT AS v FROM uni
), bigc AS (
  SELECT bg, count(*)::BIGINT AS c2 FROM bgx GROUP BY bg
), bt AS (
  SELECT b.doc_id,
         (length(bin((u.c1 + voc.v) // (bc.c2 + 1))) - 1)::BIGINT AS sbits
  FROM bgx b
  JOIN bigc bc USING (bg)
  JOIN uni u ON u.w = split_part(b.bg, ' ', 1)
  CROSS JOIN voc
), per AS (
  SELECT doc_id, sum(sbits)::BIGINT AS lm_bits, count(*)::BIGINT AS n_bigrams
  FROM bt GROUP BY doc_id
), base AS (
  SELECT d.doc_id,
         coalesce(per.lm_bits, 0)::BIGINT AS lm_bits,
         coalesce(per.n_bigrams, 0)::BIGINT AS n_bigrams,
         (CASE WHEN coalesce(per.n_bigrams, 0) > 0
               THEN (1000 * per.lm_bits) // per.n_bigrams
               ELSE 1000000000 END)::BIGINT AS mean_millibits
  FROM d LEFT JOIN per ON d.doc_id = per.doc_id)
SELECT doc_id, lm_bits, n_bigrams, mean_millibits,
       CAST(ntile(3) OVER (ORDER BY mean_millibits, doc_id) AS BIGINT) AS bucket
FROM base
"""


def _vocab(spark, sf):
    """Top-20 corpus vocabulary with counts + running coverage
    (functions/text.build_vocab) — distributed TakeOrdered top-k, all
    integer metrics."""
    from docproc_spark.functions.text import build_vocab

    return build_vocab(_t(spark, sf, "documents"), k=20)


_VOCAB_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_LTOKS}) AS token FROM documents
), g AS (
  SELECT token, count(*)::BIGINT AS tf,
         count(DISTINCT doc_id)::BIGINT AS df
  FROM tok GROUP BY token
), tot AS (SELECT sum(tf)::BIGINT AS total_tf FROM g),
top AS (SELECT token, tf, df FROM g ORDER BY tf DESC, token ASC LIMIT 20)
SELECT row_number() OVER (ORDER BY tf DESC, token ASC)::BIGINT AS rank,
       token, tf, df,
       sum(tf) OVER (ORDER BY tf DESC, token ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    )::BIGINT AS cum_tf,
       tot.total_tf
FROM top, tot
"""


def _classifier(spark, sf):
    """fastText-style hashed linear classifier scores (functions/
    text.linear_classifier_score) — md5-derived stand-in weights, left-
    fold mean, shuffle-free map-side plan."""
    from docproc_spark.functions.text import linear_classifier_score

    return linear_classifier_score(_t(spark, sf, "documents"), n_features=256, seed=7)


_CLASSIFIER_SQL = f"""
WITH d0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
d AS (SELECT doc_id, {_LTOKS} AS lt FROM d0),
w AS (
  SELECT doc_id, len(lt)::BIGINT AS n_tokens,
         list_transform(lt, t ->
           CAST(CAST(concat('0x', substr(md5(concat('7:',
                 CAST(CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 256
                      AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000 AS DOUBLE)
           / 500000.0 - 1.0) AS wts
  FROM d),
s AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens > 0
              THEN list_reduce(list_prepend(0.0::DOUBLE, wts),
                               (a, x) -> a + x) / n_tokens
              ELSE 0.0 END AS score
  FROM w)
SELECT doc_id, n_tokens, score,
       (n_tokens > 0 AND score > 0.0) AS keep
FROM s
"""


def _winnow(spark, sf):
    """Winnowing fingerprints (functions/text.winnow_fingerprints) —
    MOSS-style robust selection (rightmost min per window) over 8-token
    shingle hashes, window 4."""
    from docproc_spark.functions.text import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf, "documents"), ngram=8, window=4)


_WINNOW_SQL = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
f AS (
  SELECT doc_id,
         list_transform(range(0, greatest(len(tk) - 8, 0) + 1),
                        i -> md5(array_to_string(tk[i+1:i+8], ' '))) AS h
  FROM d WHERE len(tk) >= 8),
w AS (
  SELECT doc_id,
         list_transform(range(0, greatest(len(h) - 4, 0) + 1),
                        i -> h[i+1:i+4]) AS wins
  FROM f),
sel AS (
  SELECT doc_id, unnest(list_transform(wins, (x, i) -> struct_pack(
             pos := CAST(i - 1 + len(x)
                         - list_position(list_reverse(x),
                                         list_aggregate(x, 'min'))
                         AS BIGINT),
             fp := list_aggregate(x, 'min')))) AS s
  FROM w)
SELECT DISTINCT doc_id, s.pos AS pos, s.fp AS fp FROM sel
"""


def _src_overlap(spark, sf):
    """KMV-sketch cross-source Jaccard overlap estimates (operators/
    report.source_overlap) — bottom-32 md5 sketches over 8-token
    shingles, integer jaccard_e4."""
    from docproc_spark.operators.report import source_overlap

    return source_overlap(_t(spark, sf, "documents"), k=32, ngram=8)


_SRC_OVERLAP_SQL = f"""
WITH d AS (
  SELECT coalesce(CAST(source AS VARCHAR), '<null>') AS source,
         {_TOKS} AS tk
  FROM documents),
sh AS (
  SELECT DISTINCT source, h FROM (
    SELECT source,
           unnest(list_transform(range(0, greatest(len(tk) - 8, 0) + 1),
                  i -> md5(array_to_string(tk[i+1:i+8], ' ')))) AS h
    FROM d WHERE len(tk) >= 8)),
r AS (
  SELECT source, h,
         count(*) OVER (PARTITION BY source) AS nd,
         row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
  FROM sh),
sk AS (
  SELECT source, list(h ORDER BY h) AS sketch, min(nd)::BIGINT AS n_distinct
  FROM r WHERE rn <= 32 GROUP BY source),
p AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.sketch AS ska, b.sketch AS skb,
         a.n_distinct AS sketch_a, b.n_distinct AS sketch_b
  FROM sk a JOIN sk b ON a.source < b.source),
e AS (
  SELECT *, list_sort(list_distinct(list_concat(ska, skb))) AS uni FROM p),
e2 AS (
  SELECT *, least(32, len(uni))::BIGINT AS k_used, uni[1:32] AS bottom
  FROM e),
e3 AS (
  SELECT *, len(list_filter(bottom,
               x -> list_contains(ska, x) AND list_contains(skb, x))
             )::BIGINT AS n_common
  FROM e2)
SELECT source_a, source_b, sketch_a, sketch_b, k_used, n_common,
       ((10000 * n_common) // k_used)::BIGINT AS jaccard_e4
FROM e3
"""


def _incremental_neardup(spark, sf):
    """Incremental near-dup (operators/dedupe.build_minhash_index +
    neardup_vs_index): index the base corpus ONCE (bands partitioned by
    (band_id, bucket), md5-shingle digests, parameters recorded in the
    index), then verify a planted new batch against it with explicit
    partition-pruning predicates. The planted batch (+' plantedtoken')
    guarantees the positive path: every new doc near-dups its source."""
    from docproc_spark.operators.dedupe import build_minhash_index, neardup_vs_index

    base = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    new = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" plantedtoken")).alias("text"),
    )
    path = _cached_index(
        "mh_index_v2",
        sf,
        "documents.parquet",
        lambda tmp: build_minhash_index(
            base, tmp, k=4, rows_per_band=2, n=3, n_buckets=64
        ),
    )
    return neardup_vs_index(new, path, min_jaccard=0.5)


_INCREMENTAL_NEARDUP_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 40
), newb AS (
  SELECT doc_id + 10000 AS doc_id, text || ' plantedtoken' AS text FROM base
), sigo AS (
  SELECT doc_id,
         {_mh_sql_expr(0)} AS mh0, {_mh_sql_expr(1)} AS mh1,
         {_mh_sql_expr(2)} AS mh2, {_mh_sql_expr(3)} AS mh3
  FROM base
), sign AS (
  SELECT doc_id,
         {_mh_sql_expr(0)} AS mh0, {_mh_sql_expr(1)} AS mh1,
         {_mh_sql_expr(2)} AS mh2, {_mh_sql_expr(3)} AS mh3
  FROM newb
), bo AS (
  SELECT doc_id, 0 AS band_id, mh0 || '|' || mh1 AS bk FROM sigo
  UNION ALL
  SELECT doc_id, 1 AS band_id, mh2 || '|' || mh3 AS bk FROM sigo
), bn AS (
  SELECT doc_id, 0 AS band_id, mh0 || '|' || mh1 AS bk FROM sign
  UNION ALL
  SELECT doc_id, 1 AS band_id, mh2 || '|' || mh3 AS bk FROM sign
), ok AS (
  SELECT band_id, bk FROM bo GROUP BY band_id, bk HAVING count(*) <= 1000
), okn AS (
  SELECT band_id, bk FROM bn GROUP BY band_id, bk HAVING count(*) <= 1000
), cands AS (
  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
  FROM bn x JOIN okn USING (band_id, bk) JOIN ok USING (band_id, bk)
  JOIN bo y USING (band_id, bk)
), sho AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(0, greatest(len({_TOKS}) - 3, 0) + 1),
           i -> array_to_string(({_TOKS})[i+1:i+3], ' ')))) AS shingle
  FROM base
), shn AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(0, greatest(len({_TOKS}) - 3, 0) + 1),
           i -> array_to_string(({_TOKS})[i+1:i+3], ' ')))) AS shingle
  FROM newb
), szo AS (SELECT doc_id, count(*) AS n_sh FROM sho GROUP BY doc_id),
szn AS (SELECT doc_id, count(*) AS n_sh FROM shn GROUP BY doc_id),
shared AS (
  SELECT c.new_id, c.old_id, count(*) AS shared
  FROM cands c
  JOIN shn x ON x.doc_id = c.new_id
  JOIN sho y ON y.doc_id = c.old_id AND y.shingle = x.shingle
  GROUP BY c.new_id, c.old_id
)
SELECT new_id, old_id, shared,
       round(shared / (sn.n_sh + so.n_sh - shared), 4) AS jaccard
FROM shared
JOIN szn sn ON sn.doc_id = new_id
JOIN szo so ON so.doc_id = old_id
WHERE round(shared / (sn.n_sh + so.n_sh - shared), 4) >= 0.5
"""


def _bpe(spark, sf):
    """Distributed BPE-merge training (operators/bpe.train_bpe): first 8
    merges over the corpus's alphanumeric words — one corpus reduction,
    then per-round vocabulary aggregations; the merge fold is a left
    string fold identical to DuckDB list_reduce, so the oracle unrolls
    all 8 rounds as a generated CTE chain and matches bit-for-bit
    (composed merges included — round 8 consumes round 7's symbol)."""
    from docproc_spark.operators.bpe import train_bpe

    return train_bpe(
        _t(spark, sf, "documents"),
        n_merges=8,
        word_pattern="^[a-z0-9]+$",
        # pinned: this spare oracle-checks the DISTRIBUTED fold machinery
        # (auto would route 8 merges to the value-identical local refiner)
        strategy="distributed",
    )


def _bpe_fold_sql(inner: str, bx: str, by: str) -> str:
    """One leftmost-non-overlapping merge (bx, by) applied to the
    space-joined symbol string ``inner`` — THE cross-engine fold formula
    (operators/bpe.merge_fold_col), stated once and shared by the training
    rounds and the encode oracle. A NULL bx (exhausted round via LEFT
    JOIN against an empty best row) makes the condition three-valued-NULL
    -> falsy -> the rebuild arms return the string unchanged."""
    return f"""list_reduce(list_prepend('', string_split({inner}, ' ')), (a, c) ->
           CASE WHEN (a = {bx} OR ends_with(a, ' ' || {bx})) AND c = {by}
                  THEN CASE WHEN a = {bx} THEN {bx} || {by}
                       ELSE substr(a, 1, len(a) - len({bx})) || {bx} || {by} END
                WHEN a = '' THEN c
                ELSE a || ' ' || c END)"""


def _bpe_round_sql(i: int) -> str:
    prev = f"v{i-1}"
    return f"""
p{i} AS (
  SELECT u.p.x AS x, u.p.y AS y, sum(t.freq)::BIGINT AS cnt
  FROM (SELECT freq, string_split(syms, ' ') AS arr FROM {prev}) t,
       LATERAL unnest(list_transform(range(1, len(t.arr)),
              j -> struct_pack(x := t.arr[j], y := t.arr[j+1]))) AS u(p)
  GROUP BY 1, 2
),
b{i} AS (SELECT x, y, cnt FROM p{i} ORDER BY cnt DESC, x ASC, y ASC LIMIT 1),
v{i} AS (
  SELECT v.freq,
         {_bpe_fold_sql("v.syms", "b.x", "b.y")} AS syms
  FROM {prev} v LEFT JOIN b{i} b ON true
)"""


# the training-chain scaffolding is shared VERBATIM by all three BPE
# oracles (train, encode, token-ids) — one statement of each piece, so a
# future fix to the word filter / fold seed cannot silently diverge them
_BPE_WORDS_V0_SQL = f"""words AS (
  SELECT w, count(*)::BIGINT AS freq FROM (
    SELECT unnest({_LTOKS}) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY w
), v0 AS (
  SELECT freq, array_to_string(regexp_extract_all(w, '.'), ' ') AS syms
  FROM words
)"""


def _bpe_chain_sql(n_merges: int) -> tuple[str, str, str]:
    """(round blocks, per-word encode fold expression, b1..bN joins)."""
    blocks = ",".join(_bpe_round_sql(i) for i in range(1, n_merges + 1))
    word_expr = "array_to_string(regexp_extract_all(w, '.'), ' ')"
    for i in range(1, n_merges + 1):
        word_expr = _bpe_fold_sql(word_expr, f"b{i}.x", f"b{i}.y")
    joins = " ".join(f"LEFT JOIN b{i} ON true" for i in range(1, n_merges + 1))
    return blocks, word_expr, joins


def _bpe_sql(n_merges: int = 8) -> str:
    """DuckDB mirror of train_bpe — rounds unrolled into a CTE chain; the
    winning pair rides along as a cross-joined 1-row CTE (b.x/b.y inside
    the fold lambda), so symbol values never become SQL literals and no
    escaping contract is needed. The NULL-b.x arm mirrors the operator's
    early stop (an exhausted round rebuilds the vocab unchanged and
    contributes no merges row)."""
    blocks, _, _ = _bpe_chain_sql(n_merges)
    union = "\nUNION ALL\n".join(
        f"SELECT {i}::BIGINT AS rank, x, y, x || y AS merged, cnt FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""
WITH {_BPE_WORDS_V0_SQL},
{blocks}
SELECT * FROM ({union}) ORDER BY rank
"""


def _bpe_encode(spark, sf):
    """BPE SERVING path (operators/bpe.bpe_encode): train 8 merges (the
    local refiner — decision-identical to the distributed rounds, parity-
    tested) then encode every document as one JVM column program — per
    word, 8 nested merge folds, whole-stage-codegen'd, zero Python. The
    oracle re-derives the same 8 merges with the training CTE chain and
    applies the identical fold formula (_bpe_fold_sql — ONE statement of
    the rule, shared with the training oracle) per word."""
    from docproc_spark.operators.bpe import bpe_encode, train_bpe

    docs = _t(spark, sf, "documents")
    merges = train_bpe(
        docs, n_merges=8, word_pattern="^[a-z0-9]+$", strategy="local"
    )
    enc = bpe_encode(docs, merges, strategy="expr")
    return enc.select(
        "doc_id",
        F.array_join("tokens", " ").alias("tokens_str"),
        "n_tokens",
    )


def _bpe_encode_sql(n_merges: int = 8) -> str:
    """DuckDB mirror of train(8) -> encode: the training CTE chain
    computes b1..b8 (1-row best-pair CTEs), LEFT-JOINed ON true into the
    document scan so every word folds through all 8 merges in rank order
    (a NULL row from an exhausted round is a no-op fold, matching the
    shorter collected merge list on the Spark side). Words join with ' '
    and tokens within a word join with ' ', so the flat token stream is
    one string — lossless, since symbols never contain whitespace."""
    blocks, word_expr, joins = _bpe_chain_sql(n_merges)
    return f"""
WITH {_BPE_WORDS_V0_SQL},
{blocks},
enc AS (
  SELECT d.doc_id,
         coalesce(array_to_string(
           list_transform({_LTOKS}, w -> {word_expr}), ' '), '') AS tokens_str
  FROM documents d {joins}
)
SELECT doc_id, tokens_str,
       (CASE WHEN tokens_str = '' THEN 0
             ELSE len(string_split(tokens_str, ' ')) END)::BIGINT AS n_tokens
FROM enc
"""


_BLOCKLIST_TERMS = ("slow", "spam", "xxx")


def _blocklist(spark, sf):
    """C4-style bad-word screen (functions/text.blocklist_filter, Raffel
    et al. 2020): whole-token case-insensitive blocklist hits per doc,
    keep = zero hits. The list rides as a plan literal — zero shuffle,
    a pure map-side filter. 'slow' occurs in the synthetic corpus, so
    both keep outcomes are exercised."""
    from docproc_spark.functions.text import blocklist_filter

    return blocklist_filter(_t(spark, sf, "documents"), _BLOCKLIST_TERMS)


_BLOCKLIST_SQL = f"""
SELECT doc_id,
       len(hits)::BIGINT AS n_hits,
       len(list_distinct(hits))::BIGINT AS n_distinct_hits,
       (len(hits) <= 0) AS keep
FROM (
  SELECT doc_id,
         list_filter(coalesce({_LTOKS}, []),
                     t -> list_contains({list(_BLOCKLIST_TERMS)!r}, t)) AS hits
  FROM documents
)
"""


# The synthetic corpus is punctuation-free word soup, so line structure is
# synthesized deterministically — the SAME replace chain on both sides:
# ' join '→'.\n' (line break WITH terminal punct), ' sort '→'\n' (break
# WITHOUT), and word swaps that plant javascript / policy-phrase lines and
# lorem-ipsum / '{' pages. Order matters (earlier replaces consume spaces
# later patterns need); both engines apply it identically.
_C4_REWRITES = (
    (" join ", ".\n"),
    (" sort ", "\n"),
    (" spark ", " javascript "),
    (" customer ", " privacy policy "),
    (" big stream ", " lorem ipsum "),
    (" hash scan ", " { "),
)


def _c4_clean(spark, sf):
    """C4-style line-level page cleaning (functions/text.c4_clean_lines,
    Raffel et al. 2020 §2.2): keep lines with >=3 words ending in terminal
    punctuation, drop javascript/policy lines, page keep = >=2 sentences
    survive (min_sentences=2 — the synthetic lines average 4.5/doc, so the
    paper's 5 would keep only 3/500) and no lorem-ipsum / '{'."""
    from docproc_spark.functions.text import c4_clean_lines

    t = F.coalesce(F.col("text"), F.lit(""))
    for pat, rep in _C4_REWRITES:
        t = F.replace(t, F.lit(pat), F.lit(rep))
    docs = _t(spark, sf, "documents").select("doc_id", t.alias("text"))
    return c4_clean_lines(docs, min_sentences=2)


# mirrors functions/text.tokens_col on a line: split on the written-out
# Java \s class, drop empties (same class _LTOKS uses)
_LINE_WORDS = (
    "list_filter(regexp_split_to_array(trim(ln), '[ \t\n\x0b\f\r]+'),"
    " w -> w <> '')"
)
_C4_LINE_OK = (
    f"len({_LINE_WORDS}) >= 3"
    " AND regexp_matches(rtrim(ln), '[.!?\"]$')"
    " AND NOT contains(lower(ln), 'javascript')"
    " AND NOT contains(lower(ln), 'cookie policy')"
    " AND NOT contains(lower(ln), 'privacy policy')"
    " AND NOT contains(lower(ln), 'terms of use')"
    " AND NOT contains(lower(ln), 'use of cookies')"
    " AND NOT contains(lower(ln), 'uses cookies')"
)
_C4_NSENT = "(length(clean_text) - length(regexp_replace(clean_text, '[.!?]', '', 'g')))"
def _c4_rewrite_sql(expr: str) -> str:
    """DuckDB twin of the _C4_REWRITES chain (same order)."""
    for pat, rep in _C4_REWRITES:
        rep_sql = "'" + rep.replace("\n", "' || chr(10) || '") + "'"
        # fold empty-string concat artifacts from leading/trailing \n
        rep_sql = rep_sql.replace("'' || ", "").replace(" || ''", "")
        expr = f"replace({expr}, '{pat}', {rep_sql})"
    return expr


_C4_CLEAN_SQL = f"""
WITH d AS (
  SELECT doc_id, {_c4_rewrite_sql("coalesce(text, '')")} AS t
  FROM documents
), k AS (
  SELECT doc_id, t,
         len(string_split(t, chr(10)))::BIGINT AS n_lines,
         list_filter(string_split(t, chr(10)), ln -> {_C4_LINE_OK}) AS kept
  FROM d
), c AS (
  SELECT doc_id, t, n_lines,
         coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
         len(kept)::BIGINT AS n_lines_kept
  FROM k
)
SELECT doc_id, clean_text, n_lines, n_lines_kept,
       {_C4_NSENT}::BIGINT AS n_sentences,
       (NOT contains(lower(t), 'lorem ipsum') AND NOT contains(t, '{{')
        AND {_C4_NSENT} >= 2) AS keep
FROM c
"""


# Mojibake synthesis: plant UTF-8-shown-as-cp1252 sequences in the clean
# corpus via a shared replace chain (same order both engines). 'naÃ¯ve'
# (Ã¯) is deliberately OUTSIDE functions/text.MOJIBAKE_MAP — it must
# survive the expr-path repair unchanged (the general pandas path would
# fix it; parity-tested in pytest, not here).
_MOJI_REWRITES = (
    (" agg ", " donâ€™t "),  # â€™ → ’
    (" merge ", " cafÃ© "),  # Ã© → é
    (" window ", " â€” "),  # â€” → —
    (" stream ", " â‚¬5Â\u00a0off "),  # â‚¬ → €, Â+NBSP → NBSP
    (" batch ", " naÃ¯ve "),  # Ã¯: out-of-table, stays
)


def _mojibake(spark, sf):
    """ftfy-style mojibake repair (functions/text.fix_mojibake, expr
    strategy): plan-literal replace chain over the high-frequency
    UTF-8-as-cp1252 sequences + per-key occurrence counts on the original
    text. Zero shuffle, pure JVM string expressions."""
    from docproc_spark.functions.text import fix_mojibake

    t = F.coalesce(F.col("text"), F.lit(""))
    for pat, rep in _MOJI_REWRITES:
        t = F.replace(t, F.lit(pat), F.lit(rep))
    docs = _t(spark, sf, "documents").select("doc_id", t.alias("text"))
    return fix_mojibake(docs)


def _mojibake_sql() -> str:
    from docproc_spark.functions.text import MOJIBAKE_MAP

    synth = "coalesce(text, '')"
    for pat, rep in _MOJI_REWRITES:
        synth = f"replace({synth}, '{pat}', '{rep}')"
    fix = "t"
    for bad, good in MOJIBAKE_MAP:
        fix = f"replace({fix}, '{bad}', '{good}')"
    counts = " + ".join(
        f"CAST((length(t) - length(replace(t, '{bad}', ''))) / {len(bad)} AS BIGINT)"
        for bad, _ in MOJIBAKE_MAP
    )
    return f"""
WITH d AS (
  SELECT doc_id, {synth} AS t FROM documents
), f AS (
  SELECT doc_id, t, {fix} AS fixed_text FROM d
)
SELECT doc_id, fixed_text,
       ({counts})::BIGINT AS n_mojibake,
       (fixed_text <> t) AS fixed
FROM f
"""


def _lexdiv(spark, sf):
    """Lexical-diversity quality signals (functions/text.lexical_diversity
    — the RedPajama-v2/Dolma frac-unique-words family): unigram and bigram
    type-token ratios, keep = TTR >= 0.45 (the corpus median; the library
    default 0.1 would keep everything in this synthetic word soup). Pure
    map-side projection; every ratio is one IEEE division of two integer
    counts, bit-exact across engines."""
    from docproc_spark.functions.text import lexical_diversity

    return lexical_diversity(_t(spark, sf, "documents"), min_ttr=0.45)


_LEXDIV_SQL = f"""
WITH t AS (
  SELECT doc_id, coalesce({_LTOKS}, []) AS toks FROM documents
), b AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(0, len(toks) - 1),
                                  i -> array_to_string(toks[i+1:i+2], ' '))
              ELSE [] END AS bg
  FROM t
)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       len(list_distinct(toks))::BIGINT AS n_types,
       CASE WHEN len(toks) > 0
            THEN len(list_distinct(toks)) / len(toks) END AS type_token_ratio,
       len(bg)::BIGINT AS n_bigrams,
       len(list_distinct(bg))::BIGINT AS n_bigram_types,
       CASE WHEN len(bg) > 0
            THEN len(list_distinct(bg)) / len(bg) END AS bigram_ttr,
       (len(toks) > 0
        AND len(list_distinct(toks)) / len(toks) >= 0.45) AS keep
FROM b
"""


# URL-level dedupe: the corpus has no URL column, so one is synthesized
# from doc_id alone via a shared ANSI expression (valid VERBATIM in Spark
# and DuckDB): spelling noise the canonicalizer must wash out — scheme and
# host case, www., default ports, tracking params + param order, trailing
# slash, fragments — over a 420-class page identity (CRT over the mods:
# lcm(3,4,7,5,10); the %2/%6/%8 decorations and %4-correlated tracking
# params all cancel under canonicalization), so sf0.001's 500 rows hold
# ~80 duplicate spellings of an earlier page and sf0.01 ~11 per class.
_URL_SYNTH = """
CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTPS' ELSE 'https' END
|| '://'
|| CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END
|| CASE doc_id % 4 WHEN 0 THEN 'News' WHEN 1 THEN 'blog' WHEN 2 THEN 'Docs' ELSE 'shop' END
|| CAST(doc_id % 7 AS STRING) || '.Example.COM'
|| CASE doc_id % 5 WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END
|| '/p' || CAST(doc_id % 10 AS STRING)
|| CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END
|| CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed&b=2&a=1'
        WHEN 1 THEN '?a=1&utm_campaign=x'
        WHEN 2 THEN '?z=9&fbclid=abc' ELSE '' END
|| CASE WHEN doc_id % 8 = 0 THEN '#Section-2' ELSE '' END
""".strip().replace("\n", " ")


def _url_dedupe(spark, sf):
    """URL canonicalization + first-wins URL-level dedupe
    (functions/web.url_dedupe): lowercase scheme/host, strip userinfo /
    default ports / one www. / fragment / tracking params, sort surviving
    params, trim trailing slashes; keep = lowest doc_id per canonical URL.
    Canonicalization is map-side; the verdict is one near-unique-key
    window shuffle."""
    from docproc_spark.functions.web import url_dedupe

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{_URL_SYNTH} AS url"
    )
    return url_dedupe(docs)


def _url_canon_ctes(
    prefix: str = "", src: str = "u", carry: tuple[str, ...] = ()
) -> str:
    """DuckDB twin of functions/web.canonicalize_url as a CTE chain —
    expects a prior CTE ``src(doc_id, url, ...)``; ends with
    ``{prefix}k(doc_id, url, canonical_url, host, domain)``. ``prefix``
    renames the intermediate CTEs so the chain can be instantiated more
    than once in one query (the link-graph oracle canonicalizes page URLs
    first, then resolved hrefs); ``carry`` threads extra columns of the
    source CTE through to ``{prefix}k`` unchanged."""
    from docproc_spark.functions.web import TRACKING_PARAMS

    cx = "".join(f", {c}" for c in carry)
    return f"""{prefix}s AS (
  SELECT doc_id, url{cx},
         split_part(split_part(trim(url), '#', 1), '?', 1) AS base,
         CASE WHEN instr(split_part(trim(url), '#', 1), '?') > 0
              THEN substr(split_part(trim(url), '#', 1),
                          instr(split_part(trim(url), '#', 1), '?') + 1)
              ELSE '' END AS query
  FROM {src}
), {prefix}p AS (
  SELECT doc_id, url{cx}, query,
         CASE WHEN instr(base, '://') > 0
              THEN lower(split_part(base, '://', 1)) ELSE 'http' END AS scheme,
         CASE WHEN instr(base, '://') > 0
              THEN substr(base, instr(base, '://') + 3) ELSE base END AS rest
  FROM {prefix}s
), {prefix}h AS (
  SELECT doc_id, url{cx}, query, scheme,
         lower(regexp_replace(split_part(rest, '/', 1), '^[^@]*@', '')) AS hostport,
         CASE WHEN instr(rest, '/') > 0
              THEN substr(rest, instr(rest, '/')) ELSE '' END AS rawpath
  FROM {prefix}p
), {prefix}c AS (
  SELECT doc_id, url{cx}, scheme,
         regexp_replace(
           CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                ELSE hostport END,
           '^www\\.', '') AS host,
         CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
              ELSE regexp_replace(rawpath, '/+$', '') END AS path,
         list_sort(list_filter(string_split(query, '&'),
           q -> q <> ''
                AND NOT starts_with(lower(split_part(q, '=', 1)), 'utm_')
                AND NOT list_contains({list(TRACKING_PARAMS)!r},
                                      lower(split_part(q, '=', 1))))) AS params
  FROM {prefix}h
), {prefix}k AS (
  SELECT doc_id, url{cx},
         scheme || '://' || host || path ||
           CASE WHEN len(params) > 0
                THEN '?' || array_to_string(params, '&') ELSE '' END
           AS canonical_url,
         host,
         CASE WHEN instr(split_part(host, ':', 1), '.') > 0
              THEN regexp_extract(split_part(host, ':', 1), '[^.]+\\.[^.]+$')
              ELSE split_part(host, ':', 1) END AS domain
  FROM {prefix}c
)"""


def _url_dedupe_sql() -> str:
    return f"""
WITH u AS (
  SELECT doc_id, {_URL_SYNTH} AS url FROM documents
), {_url_canon_ctes()}
SELECT doc_id, url, canonical_url, host, domain,
       (doc_id = min(doc_id) OVER (PARTITION BY canonical_url)) AS keep
FROM k
"""


def _web_curation(spark, sf):
    """The full web-curation recipe in ONE job (functions/web.curate_web):
    mojibake repair → C4 line/page cleaning → lexical-diversity screen →
    blocklist screen → canonical-URL first-wins dedupe, per-stage verdicts
    kept (Dolma attributes-then-mix). Input synthesis = the c4 replace
    chain (line structure) THEN the mojibake chain (corruption) on text,
    plus the shared URL synth — all applied identically on both engines.
    min_sentences=2 / min_ttr=0.75 sit at the cleaned corpus' medians so
    every verdict fires both ways. One staged projection + ONE shuffle."""
    from docproc_spark.functions.web import curate_web

    t = F.coalesce(F.col("text"), F.lit(""))
    for pat, rep in _C4_REWRITES + _MOJI_REWRITES:
        t = F.replace(t, F.lit(pat), F.lit(rep))
    docs = _fan(_t(spark, sf, "documents")).select(
        "doc_id", t.alias("text"), F.expr(_URL_SYNTH).alias("url")
    )
    return curate_web(
        docs, _BLOCKLIST_TERMS, min_sentences=2, min_ttr=0.75
    )


def _web_curation_sql() -> str:
    from docproc_spark.functions.text import MOJIBAKE_MAP

    synth = _c4_rewrite_sql("coalesce(text, '')")
    for pat, rep in _MOJI_REWRITES:
        synth = f"replace({synth}, '{pat}', '{rep}')"
    fix = "t"
    for bad, good in MOJIBAKE_MAP:
        fix = f"replace({fix}, '{bad}', '{good}')"
    counts = " + ".join(
        f"CAST((length(t) - length(replace(t, '{bad}', ''))) / {len(bad)} AS BIGINT)"
        for bad, _ in MOJIBAKE_MAP
    )
    ltoks_clean = (
        "list_filter(regexp_split_to_array(trim(lower(clean_text)),"
        " '[ \t\n\x0b\f\r]+'), x -> x <> '')"
    )
    return f"""
WITH u AS (
  SELECT doc_id, {synth} AS t, {_URL_SYNTH} AS url FROM documents
), {_url_canon_ctes()}, fx AS (
  SELECT doc_id, t, {fix} AS fixed, ({counts})::BIGINT AS n_mojibake FROM u
), kk AS (
  SELECT doc_id, fixed, n_mojibake,
         list_filter(string_split(fixed, chr(10)), ln -> {_C4_LINE_OK}) AS kept
  FROM fx
), cc AS (
  SELECT doc_id, fixed, n_mojibake,
         coalesce(array_to_string(kept, chr(10)), '') AS clean_text
  FROM kk
), tt AS (
  SELECT doc_id, fixed, n_mojibake, clean_text, {ltoks_clean} AS toks
  FROM cc
), v AS (
  SELECT doc_id, clean_text, n_mojibake,
         (NOT contains(lower(fixed), 'lorem ipsum') AND NOT contains(fixed, '{{')
          AND {_C4_NSENT} >= 2) AS c4_keep,
         (len(toks) > 0
          AND len(list_distinct(toks)) / len(toks) >= 0.75) AS lex_keep,
         (len(list_filter(toks, x -> list_contains({list(_BLOCKLIST_TERMS)!r}, x)))
          <= 0) AS block_keep
  FROM tt
), uv AS (
  SELECT k.doc_id, k.url, k.canonical_url,
         (k.doc_id = min(k.doc_id) OVER (PARTITION BY k.canonical_url)) AS url_keep
  FROM k
)
SELECT v.doc_id, uv.url, uv.canonical_url, v.clean_text, v.n_mojibake,
       v.c4_keep, v.lex_keep, v.block_keep, uv.url_keep,
       (v.c4_keep AND v.lex_keep AND v.block_keep AND uv.url_keep) AS keep
FROM v JOIN uv ON v.doc_id = uv.doc_id
"""


def _md5_bucket_sql(expr: str, mod: int) -> str:
    """DuckDB twin of operators/dedupe._hash_bucket_col — first 8 md5 hex
    chars as an integer, mod the bucket count."""
    return f"(CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT) % {mod})"


_DSIR_BUCKETS = 4096


def _dsir(spark, sf):
    """DSIR importance weights (functions/text.dsir_weights; Xie et al.
    2023): hashed unigram+bigram features, add-one-smoothed raw (whole
    corpus) vs target (lang='en') bucket distributions, per-doc integer
    score = sum of bits_raw - bits_target (the lm_surprisal no-floats
    discipline) — positive means more target-like. Bit-exact oracle, no
    rounding contract."""
    from docproc_spark.functions.text import dsir_weights

    docs = _t(spark, sf, "documents")
    return dsir_weights(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=_DSIR_BUCKETS
    )


_DSIR_SQL = f"""
WITH feats AS (
  SELECT doc_id, lang,
         (lt || CASE WHEN len(lt) >= 2
                THEN list_transform(range(1, len(lt)),
                                    i -> lt[i] || ' ' || lt[i+1])
                ELSE [] END) AS fs
  FROM (SELECT doc_id, lang, {_LTOKS} AS lt FROM documents)
),
rawf AS (
  SELECT doc_id, {_md5_bucket_sql('u.f', _DSIR_BUCKETS)} AS b
  FROM feats, LATERAL unnest(fs) AS u(f)
),
tgtf AS (
  SELECT {_md5_bucket_sql('u.f', _DSIR_BUCKETS)} AS b
  FROM feats, LATERAL unnest(fs) AS u(f) WHERE lang = 'en'
),
raw_c AS (SELECT b, count(*)::BIGINT AS cr FROM rawf GROUP BY b),
tgt_c AS (SELECT b, count(*)::BIGINT AS ct FROM tgtf GROUP BY b),
tot AS (
  SELECT (SELECT coalesce(sum(cr), 0) FROM raw_c)::BIGINT AS tr,
         (SELECT coalesce(sum(ct), 0) FROM tgt_c)::BIGINT AS tt
),
bits AS (
  SELECT r.b,
         ((length(bin((tot.tr + {_DSIR_BUCKETS}) // (r.cr + 1))) - 1)
          - (length(bin((tot.tt + {_DSIR_BUCKETS}) // (coalesce(t.ct, 0) + 1))) - 1)
         )::BIGINT AS dbits
  FROM raw_c r LEFT JOIN tgt_c t USING (b), tot
),
per AS (
  SELECT rawf.doc_id, sum(bits.dbits)::BIGINT AS dsir_bits,
         count(*)::BIGINT AS n_feats
  FROM rawf JOIN bits USING (b) GROUP BY rawf.doc_id
)
SELECT d.doc_id,
       coalesce(p.dsir_bits, 0)::BIGINT AS dsir_bits,
       coalesce(p.n_feats, 0)::BIGINT AS n_feats
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def _nb_classify(spark, sf):
    """Corpus-trained multinomial Naive Bayes (functions/text.nb_classify):
    fit per-class token statistics on the lang labels, classify every
    document, integer-bit scores only (the lm_surprisal no-floats
    discipline) — so the DuckDB mirror matches bit-for-bit with no
    rounding contract. Prediction = argmin (total_bits, label ASC)."""
    from docproc_spark.functions.text import nb_classify

    return nb_classify(_t(spark, sf, "documents"), label_col="lang")


_NB_CLASSIFY_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang AS label, {_LTOKS} AS lt FROM documents
),
train AS (SELECT * FROM toks WHERE label IS NOT NULL),
ctc AS (
  SELECT label, w, count(*)::BIGINT AS c
  FROM (SELECT label, unnest(lt) AS w FROM train) GROUP BY 1, 2
),
voc AS (SELECT count(DISTINCT w)::BIGINT AS v FROM ctc),
ntr AS (SELECT count(*)::BIGINT AS n FROM train),
meta AS (
  SELECT nc.label, coalesce(tt.t, 0)::BIGINT AS t, nc.n_c, voc.v,
         (length(bin(ntr.n // nc.n_c)) - 1)::BIGINT AS pbits
  FROM (SELECT label, count(*)::BIGINT AS n_c FROM train GROUP BY 1) nc
  LEFT JOIN (SELECT label, sum(c)::BIGINT AS t FROM ctc GROUP BY 1) tt
    USING (label), voc, ntr
),
dt AS (
  SELECT doc_id, w, count(*)::BIGINT AS occ
  FROM (SELECT doc_id, unnest(lt) AS w FROM toks) GROUP BY 1, 2
),
sc AS (
  SELECT dt.doc_id, m.label, m.pbits,
         sum(dt.occ *
             (length(bin((m.t + m.v) // (coalesce(ctc.c, 0) + 1))) - 1)
         )::BIGINT AS tok_bits
  FROM dt CROSS JOIN meta m
  LEFT JOIN ctc ON ctc.label = m.label AND ctc.w = dt.w
  GROUP BY dt.doc_id, m.label, m.pbits
),
sel AS (
  SELECT doc_id, label AS pred_label,
         (tok_bits + pbits)::BIGINT AS score_bits
  FROM (
    SELECT doc_id, label, tok_bits, pbits,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY tok_bits + pbits ASC, label ASC) AS rn
    FROM sc) WHERE rn = 1
),
bp AS (SELECT label, pbits FROM meta ORDER BY pbits ASC, label ASC LIMIT 1)
SELECT t.doc_id,
       coalesce(s.pred_label, bp.label) AS pred_label,
       coalesce(s.score_bits, bp.pbits)::BIGINT AS score_bits
FROM toks t LEFT JOIN sel s USING (doc_id) CROSS JOIN bp
"""


def _bpe_token_ids(spark, sf):
    """Tokenizer id serving path (operators/bpe.bpe_encode_ids): train 8
    merges, build the id table (base codepoints 0..B-1 codepoint-sorted,
    merged tokens B+rank-1, min-id on compose collisions), encode every
    document and map tokens to ids via a driver-side map literal
    (try_element_at — ANSI-safe NULL on unknowns). Training filters to
    ^[a-z0-9]+$ but encoding doesn't, so out-of-vocabulary symbols
    (accents, CJK, punctuation) exercise the '?'/n_unk path for real."""
    from docproc_spark.operators.bpe import bpe_encode_ids, train_bpe

    docs = _t(spark, sf, "documents")
    merges = train_bpe(
        docs, n_merges=8, word_pattern="^[a-z0-9]+$", strategy="local"
    )
    out = bpe_encode_ids(
        docs, merges, vocab_word_pattern="^[a-z0-9]+$", strategy="expr"
    )
    return out.select(
        "doc_id",
        F.array_join(
            F.transform(
                "token_ids",
                lambda i: F.coalesce(i.cast("string"), F.lit("?")),
            ),
            " ",
        ).alias("ids_str"),
        "n_tokens",
        "n_unk",
    )


def _bpe_token_ids_sql(n_merges: int = 8) -> str:
    """DuckDB mirror of train(8) -> vocab -> encode-to-ids. The id table:
    base symbols are the DISTINCT codepoints of the v0 training vocabulary
    ordered by DuckDB's binary collation (== codepoint order == the Spark
    side's python sort), merged tokens get B+rank-1, and a composed-string
    collision keeps the smallest id (min GROUP BY — the operator's
    first-wins rule). Documents with no tokens survive via the final LEFT
    JOIN with '' / 0 coalesces."""
    blocks, word_expr, joins = _bpe_chain_sql(n_merges)
    munion = "\nUNION ALL\n".join(
        f"SELECT {i}::BIGINT AS rank, x || y AS token FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""
WITH {_BPE_WORDS_V0_SQL},
{blocks},
base AS (
  SELECT sym AS token,
         (row_number() OVER (ORDER BY sym ASC) - 1)::BIGINT AS token_id
  FROM (SELECT DISTINCT unnest(string_split(syms, ' ')) AS sym FROM v0)
),
mg AS (
  SELECT token, (SELECT count(*) FROM base) + rank - 1 AS token_id
  FROM ({munion})
),
vocab AS (
  SELECT token, min(token_id)::BIGINT AS token_id
  FROM (SELECT * FROM base UNION ALL SELECT * FROM mg) GROUP BY token
),
enc AS (
  SELECT d.doc_id,
         flatten(list_transform({_LTOKS},
                 w -> string_split({word_expr}, ' '))) AS toks
  FROM documents d {joins}
),
flat AS (
  SELECT e.doc_id, u.p.tok AS token, u.p.i AS i
  FROM enc e, LATERAL unnest(list_transform(range(1, len(e.toks) + 1),
       j -> struct_pack(tok := e.toks[j], i := j))) AS u(p)
),
ids AS (
  SELECT f.doc_id, f.i, v.token_id
  FROM flat f LEFT JOIN vocab v ON f.token = v.token
),
agg AS (
  SELECT doc_id,
         string_agg(coalesce(token_id::VARCHAR, '?'), ' ' ORDER BY i) AS ids_str,
         count(*) FILTER (WHERE token_id IS NULL)::BIGINT AS n_unk,
         count(*)::BIGINT AS n_tokens
  FROM ids GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.ids_str, '') AS ids_str,
       coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(a.n_unk, 0)::BIGINT AS n_unk
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


# Shared decomposed-Unicode planting for the NFC spare (the corpus is
# ASCII, so the phenomena are planted via a replace chain applied
# identically on both engines): a composing pair (o + U+0301 → ó), a
# must-stay-decomposed pair (a + U+0327 has no precomposed form), and a
# canonical-REORDER case (acute U+0301 before dot-below U+0323 — NFC
# must swap them, then compose o+dot-below to U+1ECD while the acute
# stays combining). Combining characters are written as \\u escapes so
# the source stays visible-ASCII; the generated SQL literal carries the
# real UTF-8 bytes into both engines.
_NFC_SYNTH = (
    "replace(replace(replace(coalesce(text, '')"
    ", 'partition', 'partitio\u0301n')"  # o + acute composes to U+00F3
    ", 'scan', 'sca\u0327n')"  # a + cedilla has no precomposed form
    ", 'sort', 'so\u0301\u0323rt')"  # NFC reorders 301/323, composes U+1ECD
)


def _nfc_normalized(spark, sf):
    """Unicode NFC normalization (functions/text.normalize_unicode): the
    canonicalization pass tokenizer pipelines run before counting/
    deduping/training. Arrow-batched unicodedata.normalize (no JVM NFC
    exists), oracled bit-for-bit by DuckDB's nfc_normalize; zero
    shuffle."""
    from docproc_spark.functions.text import normalize_unicode

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{_NFC_SYNTH} AS text"
    )
    return normalize_unicode(docs, form="NFC")


_NFC_SQL = f"""
WITH s AS (SELECT doc_id, {_NFC_SYNTH} AS t FROM documents)
SELECT doc_id, nfc_normalize(t) AS norm_text,
       (nfc_normalize(t) <> t) AS changed,
       (length(t) - length(nfc_normalize(t)))::BIGINT AS n_cp_delta
FROM s
"""


# --- link graph: extraction, domain authority, PageRank --------------------

# Shared raw-HTML synthesis (valid in Spark SQL and DuckDB alike): every
# resolution rule fires somewhere in the corpus — absolute (mixed-case
# scheme/host, tracking params), root-relative with trailing slash,
# protocol-relative with a default port, and the dropped classes
# (mailto:, fragment-only, path-relative, javascript:). One anchor
# carries nested markup (<b>), exercising the first-text-run-only rule.
_HTML_SYNTH = """
'<html><body><p>Intro paragraph.</p>'
|| '<a href="https://Other' || CAST(doc_id % 7 AS STRING)
|| '.Example.NET/page/' || CAST(doc_id % 11 AS STRING) || '"> read more </a>'
|| CASE WHEN doc_id % 2 = 0 THEN '<a class="nav" href="/p'
        || CAST(doc_id % 9 AS STRING) || '/">sec '
        || CAST(doc_id % 9 AS STRING) || '</a>' ELSE '' END
|| CASE WHEN doc_id % 3 = 0
        THEN '<a href="//cdn.Assets.NET:443/lib">cdn</a>' ELSE '' END
|| CASE WHEN doc_id % 4 = 0
        THEN '<a href="mailto:x@y.z">mail</a><a href="#top">top</a>'
             || '<a href="relative/path">rel</a>'
             || '<a href="javascript:void(0)">js</a>' ELSE '' END
|| CASE WHEN doc_id % 5 = 0
        THEN '<a href="HTTPS://Www.Partner.ORG/A?utm_source=x&id='
             || CAST(doc_id % 6 AS STRING)
             || '">partner <b>deal</b></a>' ELSE '' END
|| '</body></html>'
""".strip().replace("\n", " ")


def _synth_web_pages(spark, sf):
    return _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{_URL_SYNTH} AS url", f"{_HTML_SYNTH} AS raw_html"
    )


def _link_graph(spark, sf):
    """<a href> edge extraction from raw HTML (functions/graph.
    extract_links): JVM regexp_extract_all for href+anchor, relative
    references resolved against the page's canonical scheme/host,
    both endpoints canonicalized (functions/web rules). Pure map-side —
    one scan, one explode, zero shuffle, no Python (plan-guarded in
    tests/test_plans.py)."""
    from docproc_spark.functions.graph import extract_links

    return extract_links(_synth_web_pages(spark, sf))


def _link_graph_ctes() -> str:
    """Shared CTE chain synth→page-canon→extract→resolve→dst-canon,
    ending in ``d_k`` carrying (doc_id, pos, src_url, src_domain, anchor,
    canonical_url=dst, domain=dst_domain)."""
    from docproc_spark.functions.graph import HREF_PATTERN

    return f"""d AS (
  SELECT doc_id, {_URL_SYNTH} AS url, {_HTML_SYNTH} AS raw_html FROM documents
), u AS (SELECT doc_id, url FROM d),
{_url_canon_ctes()},
pg AS (
  SELECT k.doc_id, k.canonical_url AS src_url,
         split_part(k.canonical_url, '://', 1) AS scheme,
         split_part(split_part(k.canonical_url, '://', 2), '/', 1) AS hst,
         k.domain AS src_domain
  FROM k
), ex AS (
  SELECT doc_id,
         regexp_extract_all(raw_html, '{HREF_PATTERN}', 1) AS hrefs,
         regexp_extract_all(raw_html, '{HREF_PATTERN}', 2) AS anchors
  FROM d
), lk AS (
  SELECT e.doc_id, g.pos, p.src_url, p.src_domain, p.scheme, p.hst,
         trim(e.hrefs[g.pos]) AS href,
         trim(e.anchors[g.pos]) AS anchor
  FROM ex e JOIN pg p ON e.doc_id = p.doc_id,
       LATERAL unnest(generate_series(1, len(e.hrefs))) AS g(pos)
), du AS (
  SELECT doc_id,
         CASE WHEN lower(href) LIKE 'http://%' OR lower(href) LIKE 'https://%'
                THEN href
              WHEN href LIKE '//%' THEN scheme || ':' || href
              WHEN href LIKE '/%' THEN scheme || '://' || hst || href
              ELSE NULL END AS url,
         pos, src_url, src_domain, anchor
  FROM lk
  WHERE CASE WHEN lower(href) LIKE 'http://%' OR lower(href) LIKE 'https://%'
               THEN href
             WHEN href LIKE '//%' THEN scheme || ':' || href
             WHEN href LIKE '/%' THEN scheme || '://' || hst || href
             ELSE NULL END IS NOT NULL
), {_url_canon_ctes(prefix="d_", src="du",
                    carry=("pos", "src_url", "src_domain", "anchor"))}"""


def _link_graph_sql() -> str:
    return f"""
WITH {_link_graph_ctes()}
SELECT doc_id, pos::INT AS pos, src_url, canonical_url AS dst_url, anchor,
       src_domain, domain AS dst_domain,
       (src_domain = domain) AS is_internal
FROM d_k
"""


def _domain_authority(spark, sf):
    """Per-destination-domain link authority (functions/graph.
    domain_authority): total in-links, external in-links, and distinct
    EXTERNAL source domains — the CommonCrawl-web-graph-style domain
    quality signal. ONE aggregation shuffle on dst_domain."""
    from docproc_spark.functions.graph import domain_authority, extract_links

    return domain_authority(extract_links(_synth_web_pages(spark, sf)))


def _domain_authority_sql() -> str:
    return f"""
WITH {_link_graph_ctes()}
SELECT domain AS dst_domain,
       count(*)::BIGINT AS n_inlinks,
       count(*) FILTER (WHERE src_domain <> domain)::BIGINT
         AS n_external_inlinks,
       count(DISTINCT CASE WHEN src_domain <> domain
                           THEN src_domain END)::BIGINT AS n_source_domains
FROM d_k GROUP BY domain
"""


def _anchor_texts(spark, sf):
    """Per-destination anchor-text aggregation (functions/graph.
    anchor_texts): total refs, distinct referring pages, top-3 distinct
    non-empty anchors in bytewise order (' | '-joined). One dst_url-keyed
    aggregation shuffle over the extracted link table."""
    from docproc_spark.functions.graph import anchor_texts, extract_links

    return anchor_texts(extract_links(_synth_web_pages(spark, sf)), k=3)


def _anchor_texts_sql() -> str:
    return f"""
WITH {_link_graph_ctes()}
SELECT canonical_url AS dst_url,
       count(*)::BIGINT AS n_refs,
       count(DISTINCT src_url)::BIGINT AS n_source_pages,
       array_to_string(
         (list_filter(list_sort(list_distinct(list(anchor))),
                      a -> a <> ''))[1:3], ' | ') AS anchors_topk
FROM d_k GROUP BY canonical_url
"""


# Shared head-section synthesis for the robots/canonical spares: meta
# robots in BOTH attribute orders and mixed case, rel=canonical as an
# absolute URL (5 consolidation classes → many keep=false rows) and as a
# root-relative href (resolves against the page host), plus absent cases.
_ROBOTS_SYNTH = """
'<html><head>'
|| CASE doc_id % 4
   WHEN 0 THEN '<meta name="robots" content="noindex, follow">'
   WHEN 1 THEN '<meta content="NOFOLLOW" name="ROBOTS">'
   WHEN 2 THEN '<meta name="robots" content="index, follow">' ELSE '' END
|| CASE doc_id % 3
   WHEN 0 THEN '<link rel="canonical" href="https://Canon.Example.COM/c'
        || CAST(doc_id % 5 AS STRING) || '">'
   WHEN 1 THEN '<link href="/self' || CAST(doc_id % 5 AS STRING)
        || '" rel="canonical">' ELSE '' END
|| '</head><body><p>body text</p></body></html>'
""".strip().replace("\n", " ")


def _first_extract_sql(col: str, patterns: tuple[str, ...]) -> str:
    """DuckDB twin of functions/web.first_extract (pattern-order coalesce
    of regexp_extract group 1; '' when none match on both engines)."""
    out = f"regexp_extract({col}, '{patterns[0]}', 1)"
    for p in patterns[1:]:
        out = (
            f"CASE WHEN {out} <> '' THEN {out} "
            f"ELSE regexp_extract({col}, '{p}', 1) END"
        )
    return out


def _robots_flags(spark, sf):
    """Meta-robots + rel=canonical extraction (functions/web.
    html_robots_flags): noindex/nofollow directives and the declared
    canonical href, both attribute orders, case-insensitive. Zero
    shuffle, pure JVM regex."""
    from docproc_spark.functions.web import html_robots_flags

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{_ROBOTS_SYNTH} AS raw_html"
    )
    return html_robots_flags(docs)


def _robots_flags_sql() -> str:
    from docproc_spark.functions.web import (
        CANONICAL_LINK_PATTERNS,
        ROBOTS_META_PATTERNS,
    )

    content = _first_extract_sql("raw_html", ROBOTS_META_PATTERNS)
    canon = _first_extract_sql("raw_html", CANONICAL_LINK_PATTERNS)
    return f"""
WITH d AS (SELECT doc_id, {_ROBOTS_SYNTH} AS raw_html FROM documents)
SELECT doc_id,
       (instr(lower({content}), 'noindex') > 0) AS noindex,
       (instr(lower({content}), 'nofollow') > 0) AS nofollow,
       nullif(trim({canon}), '') AS canonical_href
FROM d
"""


def _canonical_consolidated(spark, sf):
    """rel=canonical consolidation + first-wins dedupe on the effective
    URL (functions/web.canonical_consolidate): declared canonicals
    resolve against the page's canonical scheme/host and override the
    page URL for dedupe purposes. Map-side extraction/resolution + ONE
    effective_url window shuffle."""
    from docproc_spark.functions.web import canonical_consolidate

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{_URL_SYNTH} AS url", f"{_ROBOTS_SYNTH} AS raw_html"
    )
    return canonical_consolidate(docs)


def _canonical_consolidated_sql() -> str:
    from docproc_spark.functions.web import CANONICAL_LINK_PATTERNS

    canon = _first_extract_sql("d.raw_html", CANONICAL_LINK_PATTERNS)
    return f"""
WITH d AS (
  SELECT doc_id, {_URL_SYNTH} AS url, {_ROBOTS_SYNTH} AS raw_html FROM documents
), u AS (SELECT doc_id, url FROM d),
{_url_canon_ctes()},
pg AS (
  SELECT k.doc_id,
         split_part(k.canonical_url, '://', 1) AS scheme,
         split_part(split_part(k.canonical_url, '://', 2), '/', 1) AS hst
  FROM k
), cx AS (
  SELECT d.doc_id, d.url, nullif(trim({canon}), '') AS ch FROM d
), rv AS (
  SELECT c.doc_id, c.url, c.ch,
         CASE WHEN c.ch IS NULL THEN NULL
              WHEN lower(c.ch) LIKE 'http://%' OR lower(c.ch) LIKE 'https://%'
                THEN c.ch
              WHEN c.ch LIKE '//%' THEN p.scheme || ':' || c.ch
              WHEN c.ch LIKE '/%' THEN p.scheme || '://' || p.hst || c.ch
              ELSE NULL END AS resolved
  FROM cx c JOIN pg p USING (doc_id)
), eu AS (
  SELECT doc_id, coalesce(resolved, url) AS url,
         url AS orig_url, ch AS canonical_href
  FROM rv
), {_url_canon_ctes(prefix="e_", src="eu",
                    carry=("orig_url", "canonical_href"))}
SELECT doc_id, orig_url AS url, canonical_href,
       canonical_url AS effective_url,
       (doc_id = min(doc_id) OVER (PARTITION BY canonical_url)) AS keep
FROM e_k
"""


# Shared edge synthesis for the PageRank spare: a 101-node graph with a
# deliberate hub (every fifth document votes for node 0 — skew the
# integer arithmetic must survive). All-BIGINT expressions, identical in
# both engines.
_EDGE_SRC = "doc_id % 101"
_EDGE_DSTS = (
    "((doc_id % 101) * 7 + 11) % 101",
    "((doc_id % 101) * 3 + 29) % 101",
    "CASE WHEN doc_id % 5 = 0 THEN 0 ELSE ((doc_id % 101) * 13 + 1) % 101 END",
)


def _pagerank_101(spark, sf):
    """Fixed-iteration integer PageRank (functions/graph.pagerank) over
    the shared synthetic 101-node graph: 3 iterations, damping 85/100,
    rank mass 2^40 "bits". All-BIGINT arithmetic makes the result
    independent of summation order / partitioning — bit-exact vs the
    oracle's unrolled CTE chain, and stable across cluster sizes."""
    from docproc_spark.functions.graph import pagerank

    edges = (
        _t(spark, sf, "documents")
        .selectExpr(
            f"{_EDGE_SRC} AS src",
            f"explode(array({', '.join(_EDGE_DSTS)})) AS dst",
        )
        .where("src <> dst")
        .distinct()
    )
    return pagerank(edges, iters=3)


def _pagerank_ctes(
    iters: int = 3, damping: int = 85, scale_bits: int = 40
) -> str:
    """DuckDB twin of functions/graph.pagerank as an unrolled CTE chain —
    expects a prior CTE ``edges(src BIGINT, dst BIGINT)``; ends with
    ``r{iters}(node, rank_bits)``. Same integer recurrence, term for
    term; DuckDB's sum(BIGINT) widens to HUGEINT, cast back each round."""
    mass = 1 << scale_bits
    parts = [
        f"""nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), meta AS (
  SELECT ({mass}::BIGINT // count(*))::BIGINT AS share,
         (({100 - damping} * ({mass}::BIGINT // count(*))) // 100)::BIGINT
           AS base
  FROM nodes
), outdeg AS (
  SELECT src, count(*)::BIGINT AS out_deg FROM edges GROUP BY src
), ew AS (
  SELECT e.src, e.dst, o.out_deg FROM edges e JOIN outdeg o USING (src)
), r0 AS (
  SELECT node, (SELECT share FROM meta) AS rank_bits FROM nodes
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""s{i} AS (
  SELECT ew.dst, sum(r{i - 1}.rank_bits // ew.out_deg)::BIGINT AS in_sum
  FROM ew JOIN r{i - 1} ON ew.src = r{i - 1}.node GROUP BY ew.dst
), r{i} AS (
  SELECT n.node,
         ((SELECT base FROM meta)
          + ({damping} * coalesce(s{i}.in_sum, 0)) // 100)::BIGINT
           AS rank_bits
  FROM nodes n LEFT JOIN s{i} ON n.node = s{i}.dst
)"""
        )
    return ", ".join(parts)


def _pagerank_sql() -> str:
    dsts = " UNION ALL ".join(
        f"SELECT {_EDGE_SRC} AS src, {d} AS dst FROM documents"
        for d in _EDGE_DSTS
    )
    return f"""
WITH raw AS (
  {dsts}
), edges AS (
  SELECT DISTINCT src::BIGINT AS src, dst::BIGINT AS dst FROM raw
  WHERE src <> dst
), {_pagerank_ctes(3, 85, 40)}
SELECT node, rank_bits, rank_bits / {float(1 << 40)} AS rank FROM r3
"""


# Shared head-section synthesis for the page-metadata spare: og:title /
# <title> with whitespace runs + a newline that must collapse, both
# attribute orders, an EMPTY og:title that must fall through to <title>,
# upper-case tag/attribute spellings, and absent cases.
_META_SYNTH = """
'<html><head>'
|| CASE doc_id % 5
   WHEN 0 THEN '<meta property="og:title" content="OG Title '
        || CAST(doc_id % 7 AS STRING) || '"><title>Tag title</title>'
   WHEN 1 THEN '<title> Tag ' || chr(10) || '  title '
        || CAST(doc_id % 7 AS STRING) || ' </title>'
   WHEN 2 THEN '<meta content="Reversed og title" property="og:title">'
   WHEN 3 THEN '<meta property="og:title" content=""><title>Fallback title</title>'
   ELSE '' END
|| CASE doc_id % 4
   WHEN 0 THEN '<meta name="description" content="Meta  description here">'
   WHEN 1 THEN '<meta content="OG description" property="og:description">'
   WHEN 2 THEN '<META NAME="description" CONTENT="Upper case meta">'
   ELSE '' END
|| CASE doc_id % 3
   WHEN 0 THEN '<meta property="article:published_time" content="2024-05-0'
        || CAST(1 + doc_id % 9 AS STRING) || 'T07:08:09Z">'
   ELSE '' END
|| '</head><body><p>body</p></body></html>'
""".strip().replace("\n", " ")


def _page_metadata(spark, sf):
    """Title / description / published-time extraction from raw HTML
    (functions/web.html_page_metadata): OpenGraph-first coalesce chains,
    whitespace-run collapse, NULL when absent. Zero shuffle, pure JVM
    regex."""
    from docproc_spark.functions.web import html_page_metadata

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{_META_SYNTH} AS raw_html"
    )
    return html_page_metadata(docs)


def _page_metadata_sql() -> str:
    from docproc_spark.functions.web import (
        DESCRIPTION_PATTERNS,
        PUBLISHED_PATTERNS,
        TITLE_PATTERNS,
    )

    def clean(expr: str) -> str:
        return (
            f"nullif(trim(regexp_replace({expr},"
            " '[ \\t\\n\\r]+', ' ', 'g')), '')"
        )

    title = clean(_first_extract_sql("raw_html", TITLE_PATTERNS))
    desc = clean(_first_extract_sql("raw_html", DESCRIPTION_PATTERNS))
    pub = clean(_first_extract_sql("raw_html", PUBLISHED_PATTERNS))
    return f"""
WITH d AS (SELECT doc_id, {_META_SYNTH} AS raw_html FROM documents)
SELECT doc_id, {title} AS title, {desc} AS description, {pub} AS published_at
FROM d
"""


# Shared mixed-script planting for the script-mix spare: the corpus text
# is ASCII, so each class appends a short snippet of one script; the CJK
# class repeats its snippet enough to DOMINATE the latin base text.
_SCRIPT_SYNTH = (
    "coalesce(text, '') || CASE doc_id % 7"
    " WHEN 0 THEN ' Привет мир"
    " по-русски'"
    " WHEN 1 THEN ' Ελληνικό"
    " κείμενο εδώ'"
    " WHEN 2 THEN ' نص عربي"
    " قصير'"
    " WHEN 3 THEN repeat(' 中文测试文本"
    "漢字', 40)"
    " WHEN 4 THEN ' עברית קצרה'"
    " WHEN 5 THEN ' हिन्दी पाठ"
    " यहाँ'"
    " ELSE '' END"
)


def _script_mix(spark, sf):
    """Unicode-script histogram + dominant-script call (functions/text.
    script_mix): BMP-range character-class counts, table-order dominant
    pick, IEEE confidence ratio. Zero shuffle, pure Column expressions."""
    from docproc_spark.functions.text import script_mix

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{_SCRIPT_SYNTH} AS text"
    )
    return script_mix(docs)


def _script_mix_sql() -> str:
    from docproc_spark.functions.text import SCRIPT_RANGES

    counts = ",\n       ".join(
        f"length(regexp_replace(t, '[^{rng}]', '', 'g'))::BIGINT AS n_{name}"
        for name, rng in SCRIPT_RANGES
    )
    names = [name for name, _ in SCRIPT_RANGES]
    mx = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    tot = " + ".join(f"n_{n}" for n in names)
    dom = (
        "CASE "
        + " ".join(
            f"WHEN mx > 0 AND n_{n} = mx THEN '{n}'" for n in names
        )
        + " END"
    )
    return f"""
WITH d AS (SELECT doc_id, {_SCRIPT_SYNTH} AS t FROM documents),
c AS (SELECT doc_id,
       {counts}
FROM d),
m AS (SELECT *, {mx} AS mx, ({tot})::BIGINT AS tot FROM c)
SELECT doc_id, {', '.join(f'n_{n}' for n in names)},
       {dom} AS dominant_script,
       CASE WHEN tot > 0 THEN CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE)
            END AS script_confidence
FROM m
"""


# URL synthesis for the domain-report spare: multiple TLD classes so the
# registered-domain rollup has real groups (the canonical _URL_SYNTH puts
# every host under example.com), www./scheme/tracking variants so
# n_pages < n_docs.
_DOMAIN_URL_SYNTH = """
CASE doc_id % 3 WHEN 0 THEN 'http' ELSE 'https' END || '://'
|| CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END
|| 'h' || CAST(doc_id % 5 AS STRING)
|| CASE doc_id % 4 WHEN 1 THEN '.sites.net' WHEN 2 THEN '.blog.org'
   ELSE '.example.com' END
|| '/a' || CAST(doc_id % 13 AS STRING)
|| CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x&q=1' ELSE '' END
""".strip().replace("\n", " ")


def _domain_report(spark, sf):
    """Per-registered-domain composition rollup (operators/report.
    domain_report): docs/hosts/pages/token totals + permille share. One
    groupBy shuffle with map-side combine; corpus total broadcast."""
    from docproc_spark.operators.report import domain_report

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", "text", f"{_DOMAIN_URL_SYNTH} AS url"
    )
    return domain_report(docs)


def _domain_report_sql() -> str:
    return f"""
WITH u AS (
  SELECT doc_id, text, {_DOMAIN_URL_SYNTH} AS url FROM documents
), {_url_canon_ctes(carry=("text",))},
st AS (
  SELECT domain, host, canonical_url,
         coalesce(len({_TOKS}), 0)::BIGINT AS toks,
         coalesce(length(text), 0)::BIGINT AS chars
  FROM k
), ag AS (
  SELECT domain, count(*)::BIGINT AS n_docs,
         count(DISTINCT host)::BIGINT AS n_hosts,
         count(DISTINCT canonical_url)::BIGINT AS n_pages,
         sum(toks)::BIGINT AS total_tokens,
         sum(chars)::BIGINT AS total_chars
  FROM st GROUP BY domain
)
SELECT domain, n_docs, n_hosts, n_pages, total_tokens, total_chars,
       (total_tokens // n_docs)::BIGINT AS tokens_per_doc,
       ((1000 * n_docs) // (SELECT count(*) FROM st))::BIGINT AS docs_permille
FROM ag
"""


# robots.txt synthesis: one policy per host class. Phenomena: longest
# match (allow overrides a shorter disallow), exact-agent group
# preemption over '*' (RFC 9309 §2.2.1), multi-UA groups, comments /
# mixed-case keys / unknown directives / orphan rules, wildcard paths
# (out of the literal-prefix subset — never match), empty Disallow
# (matches nothing), same-length tie → allow, and a host with NO robots.
_ROBOTS_HOST = "'h' || CAST(doc_id % 7 AS STRING) || '.example.com'"
_ROBOTS_BODY = """
CASE doc_id % 7
 WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /p1'
      || chr(10) || 'Allow: /p1x'
 WHEN 1 THEN 'User-agent: *' || chr(10) || 'Disallow: /'
      || chr(10) || 'User-agent: testbot' || chr(10) || 'Disallow: /p2'
      || chr(10) || 'Allow: /p2/sub'
 WHEN 2 THEN 'Disallow: /orphan' || chr(10) || '# only a comment'
      || chr(10) || 'USER-AGENT: megabot' || chr(10) || 'User-agent: testbot'
      || chr(10) || 'DISALLOW : /p3 # note' || chr(10) || 'Crawl-delay: 10'
      || chr(10) || 'Allow:'
 WHEN 3 THEN 'User-agent: *' || chr(10) || 'Disallow: /p4/*'
      || chr(10) || 'Disallow: /p5'
 WHEN 4 THEN 'User-agent: *' || chr(10) || 'Disallow:'
 WHEN 6 THEN 'User-agent: *' || chr(10) || 'Disallow: /p6'
      || chr(10) || 'Allow: /p6'
 ELSE NULL END
""".strip().replace("\n ", " ")
_ROBOTS_URL_SYNTH = (
    "'http://h' || CAST(doc_id % 7 AS STRING) || '.example.com/p'"
    " || CAST(doc_id % 10 AS STRING)"
    " || CASE doc_id % 3 WHEN 0 THEN 'x/deep' WHEN 1 THEN '/sub'"
    " ELSE '' END"
)


def _robots_verdicts(spark, sf):
    """robots.txt parse + RFC 9309 URL permission for agent 'TestBot'
    (functions/robots.parse_robots / robots_allowed): group model,
    exact-agent preemption, literal-prefix longest match, allow-wins
    ties. Parse = per-host line windows; verdict = one host join + one
    near-unique-key groupBy."""
    from docproc_spark.functions.robots import parse_robots, robots_allowed

    docs = _t(spark, sf, "documents")
    robots = (
        docs.selectExpr(
            f"{_ROBOTS_HOST} AS host", f"{_ROBOTS_BODY} AS robots_txt"
        )
        .where("robots_txt IS NOT NULL")
        .distinct()
    )
    urls = docs.selectExpr("doc_id", f"{_ROBOTS_URL_SYNTH} AS url")
    return robots_allowed(urls, parse_robots(robots), "TestBot")


def _robots_ctes(agent: str = "testbot") -> str:
    """DuckDB twin of functions/robots parse+evaluate as a CTE chain —
    expects a prior CTE ``u(doc_id, url)``; provides ``uu`` (canonical
    host + path_q per URL), ``sel`` (RFC 9309 group-selected rules, ALL
    directives), ``ap`` (allow/disallow, wildcard-free) and ``best``
    (per-URL longest-match struct). Mirrors parse_robots' kept-line
    sequence exactly — crawl-delay lines ARE kept (they end a
    user-agent run, so dropping them would merge groups Spark splits)."""
    from docproc_spark.functions.robots import RECOGNIZED_KEYS

    keys = ", ".join(f"'{k}'" for k in RECOGNIZED_KEYS)
    return f"""{_url_canon_ctes()},
uu AS (
  SELECT doc_id, url, host,
         substr(split_part(canonical_url, '://', 2),
                instr(split_part(canonical_url, '://', 2), '/')) AS path_q
  FROM k
), rb AS (
  SELECT DISTINCT {_ROBOTS_HOST} AS host, {_ROBOTS_BODY} AS body
  FROM documents
), rbn AS (SELECT host, body FROM rb WHERE body IS NOT NULL),
ls0 AS (
  SELECT host,
         unnest(list_transform(range(0, len(string_split(body, chr(10)))),
                i -> {{'pos': i,
                       'line': string_split(body, chr(10))[i + 1]}})) AS x
  FROM rbn
), ls AS (
  SELECT host, x.pos AS pos, trim(split_part(x.line, '#', 1)) AS l FROM ls0
), kd AS (
  SELECT host, pos,
         lower(trim(split_part(l, ':', 1))) AS key,
         trim(substr(l, instr(l, ':') + 1)) AS value
  FROM ls WHERE instr(l, ':') > 0
), kr AS (
  SELECT * FROM kd WHERE key IN ({keys})
), fl AS (
  SELECT host, pos, key, value, (key = 'user-agent') AS is_ua,
         CASE WHEN key = 'user-agent'
                   AND NOT coalesce(lag(key = 'user-agent')
                       OVER (PARTITION BY host ORDER BY pos), false)
              THEN 1 ELSE 0 END AS boundary
  FROM kr
), gi AS (
  SELECT *, sum(boundary) OVER (PARTITION BY host ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS group_id
  FROM fl
), ag AS (
  SELECT host, group_id,
         list_sort(list_distinct(list(lower(value)))) AS agents
  FROM gi WHERE is_ua GROUP BY host, group_id
), rl AS (
  SELECT g.host, g.pos, g.key AS directive, g.value AS path, a.agents
  FROM gi g JOIN ag a USING (host, group_id)
  WHERE NOT g.is_ua AND g.group_id > 0 AND g.value <> ''
), sel AS (
  SELECT host, directive, path FROM (
    SELECT rl.*, bool_or(list_contains(agents, '{agent}'))
           OVER (PARTITION BY host) AS hx
    FROM rl)
  WHERE (CASE WHEN hx THEN list_contains(agents, '{agent}')
              ELSE list_contains(agents, '*') END)
), ap AS (
  SELECT host, directive, path FROM sel
  WHERE directive IN ('allow', 'disallow') AND NOT contains(path, '*')
), j AS (
  SELECT uu.doc_id, uu.url, uu.host,
         r.directive AS r_directive, r.path AS r_path
  FROM uu LEFT JOIN ap r
    ON uu.host = r.host AND starts_with(uu.path_q, r.path)
), best AS (
  SELECT doc_id, url, host,
         max(CASE WHEN r_path IS NOT NULL THEN
             {{'l': len(r_path)::BIGINT, 'a': (r_directive = 'allow'),
               'd': r_directive, 'p': r_path}} END) AS b
  FROM j GROUP BY doc_id, url, host
)"""


def _robots_verdicts_sql() -> str:
    return f"""
WITH u AS (
  SELECT doc_id, {_ROBOTS_URL_SYNTH} AS url FROM documents
), {_robots_ctes()}
SELECT doc_id, url, host,
       (b IS NULL OR b.a) AS allowed,
       b.d AS matched_directive, b.p AS matched_path, b.l AS matched_len
FROM best
"""


def _url_frontier(spark, sf):
    """Incremental crawl-frontier dedupe (functions/web.build_url_index +
    urls_vs_index): index the base corpus's canonical URLs ONCE
    (partitioned by url_bucket, modulus recorded in the index), then
    probe a later batch with explicit partition-pruning predicates.
    _URL_SYNTH's spelling classes repeat every 840 ids, so the new batch
    genuinely collides with the base (seen_before=true rows) AND within
    itself (first_in_batch=false rows)."""
    from docproc_spark.functions.web import build_url_index, urls_vs_index

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{_URL_SYNTH} AS url"
    )
    base = docs.filter("doc_id < 300")
    path = _cached_index(
        "url_index_v1",
        sf,
        "documents.parquet",
        lambda tmp: build_url_index(base, tmp, n_buckets=256),
    )
    return urls_vs_index(docs.filter("doc_id >= 300"), path)


_URL_FRONTIER_SQL = f"""
WITH u AS (
  SELECT doc_id, {_URL_SYNTH} AS url FROM documents
), {_url_canon_ctes()},
base AS (
  SELECT DISTINCT canonical_url FROM k WHERE doc_id < 300
), newb AS (
  SELECT doc_id, url, canonical_url FROM k WHERE doc_id >= 300
), fb AS (
  SELECT newb.*,
         (doc_id = min(doc_id) OVER (PARTITION BY canonical_url))
           AS first_in_batch
  FROM newb
)
SELECT f.doc_id, f.url, f.canonical_url,
       {_md5_bucket_sql('f.canonical_url', 256)}::BIGINT AS url_bucket,
       f.first_in_batch,
       (b.canonical_url IS NOT NULL) AS seen_before,
       (f.first_in_batch AND b.canonical_url IS NULL) AS keep
FROM fb f LEFT JOIN base b ON f.canonical_url = b.canonical_url
"""


def _crawl_schedule(spark, sf):
    """Politeness scheduling (functions/robots.crawl_schedule):
    robots-allowed URLs only, one serial queue per host paced by the
    host's Crawl-delay (h2 declares 10 s in TestBot's group; everyone
    else gets the 1 s default). Verdict join + one per-host row_number
    window."""
    from docproc_spark.functions.robots import crawl_schedule, parse_robots

    docs = _t(spark, sf, "documents")
    robots = (
        docs.selectExpr(
            f"{_ROBOTS_HOST} AS host", f"{_ROBOTS_BODY} AS robots_txt"
        )
        .where("robots_txt IS NOT NULL")
        .distinct()
    )
    urls = docs.selectExpr("doc_id", f"{_ROBOTS_URL_SYNTH} AS url")
    return crawl_schedule(urls, parse_robots(robots), "TestBot")


def _crawl_schedule_sql() -> str:
    return f"""
WITH u AS (
  SELECT doc_id, {_ROBOTS_URL_SYNTH} AS url FROM documents
), {_robots_ctes()},
alw AS (
  SELECT doc_id, url, host FROM best WHERE (b IS NULL OR b.a)
), dl AS (
  SELECT host, max(CAST(path AS BIGINT)) AS delay_s
  FROM sel
  WHERE directive = 'crawl-delay' AND regexp_matches(path, '^[0-9]+$')
  GROUP BY host
), sched AS (
  SELECT a.doc_id, a.url, a.host,
         coalesce(dl.delay_s, 1)::BIGINT AS delay_s,
         (row_number() OVER (PARTITION BY a.host ORDER BY a.doc_id)
          - 1)::BIGINT AS slot
  FROM alw a LEFT JOIN dl ON a.host = dl.host
)
SELECT doc_id, url, host, delay_s, slot,
       (slot * delay_s)::BIGINT AS fetch_offset_s
FROM sched
"""


# sitemap synthesis: urlset docs (full entries, loc-only entries,
# whitespace-padded locs, out-of-domain priority → NULL), a sitemapindex
# doc, and a malformed doc whose loc-less entry must drop.
_SITEMAP_URL = "'https://h' || CAST(doc_id AS STRING) || '.example.com/sitemap.xml'"
_SITEMAP_XML = """
CASE doc_id % 4
 WHEN 0 THEN '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
      || '<url><loc>https://a.com/p' || CAST(doc_id % 9 AS STRING)
      || '</loc><lastmod>2024-0' || CAST(1 + doc_id % 9 AS STRING)
      || '-02</lastmod><priority>0.8</priority></url>'
      || '<url><loc>https://a.com/only</loc></url></urlset>'
 WHEN 1 THEN '<urlset><url data-x="1"><loc>  https://b.com/x  </loc>'
      || '<changefreq>daily</changefreq><priority>1.5</priority></url>'
      || '<url><loc>https://b.com/y</loc><priority>1.0</priority></url>'
      || '</urlset>'
 WHEN 2 THEN '<sitemapindex><sitemap><loc>https://c.com/sm'
      || CAST(doc_id % 5 AS STRING) || '.xml</loc>'
      || '<lastmod>2024-01-01T00:00:00Z</lastmod></sitemap>'
      || '<sitemap><loc>https://c.com/sm-b.xml</loc></sitemap>'
      || '</sitemapindex>'
 ELSE '<urlset><url><lastmod>2024-01-01</lastmod></url>'
      || '<url><loc>https://d.com/kept</loc></url></urlset>' END
""".strip().replace("\n ", " ")


def _sitemap_entries(spark, sf):
    """sitemaps.org XML parsing (functions/robots.parse_sitemaps): urlset
    + sitemapindex entries, field extraction, priority domain check,
    loc-less entries dropped. Map-side regex + one bounded explode; zero
    shuffle."""
    from docproc_spark.functions.robots import parse_sitemaps

    sm = _t(spark, sf, "documents").selectExpr(
        f"{_SITEMAP_URL} AS sitemap_url", f"{_SITEMAP_XML} AS xml"
    )
    return parse_sitemaps(sm)


def _sitemap_entries_sql() -> str:
    from docproc_spark.functions.robots import (
        _SM_INDEX_BLOCK,
        _SM_PRIORITY_OK,
        _SM_URL_BLOCK,
    )

    def fld(tag: str) -> str:
        return (
            f"nullif(trim(regexp_extract(entry,"
            f" '<{tag}>([^<]*)</{tag}>', 1)), '')"
        )

    return f"""
WITH sm AS (
  SELECT {_SITEMAP_URL} AS sitemap_url, {_SITEMAP_XML} AS xml FROM documents
), eu AS (
  SELECT sitemap_url, false AS is_index,
         unnest(regexp_extract_all(xml, '{_SM_URL_BLOCK}', 1)) AS entry
  FROM sm
  UNION ALL
  SELECT sitemap_url, true AS is_index,
         unnest(regexp_extract_all(xml, '{_SM_INDEX_BLOCK}', 1)) AS entry
  FROM sm
), f AS (
  SELECT sitemap_url, is_index, {fld('loc')} AS loc,
         {fld('lastmod')} AS lastmod, {fld('changefreq')} AS changefreq,
         {fld('priority')} AS prio_s
  FROM eu
)
SELECT sitemap_url, is_index, loc, lastmod, changefreq,
       CASE WHEN regexp_matches(prio_s, '{_SM_PRIORITY_OK}')
            THEN CAST(prio_s AS DOUBLE) END AS priority
FROM f WHERE loc IS NOT NULL
"""


# host synthesis for per-site template removal: 5 hosts, ~2/3 of each
# host's pages carry that host's nav line (>= the 500-permille default),
# so the oracle exercises REAL removal (contrast line_dedupe_clean's
# identity-only corpus).
_HB_HOST = "'h' || CAST(doc_id % 5 AS STRING) || '.site.com'"
_HB_TEXT = (
    f"CASE WHEN doc_id % 3 < 2 THEN 'NAV ' || {_HB_HOST} || chr(10) "
    f"|| coalesce(text, '') ELSE coalesce(text, '') END"
)


def _host_template_clean(spark, sf):
    """Per-site template removal (operators/dedupe.strip_host_boilerplate):
    a trimmed line on >= 500 permille of a host's pages (and >= 2 pages)
    is that site's chrome and is stripped host-wide. Line counts shuffle
    on (host, line), host totals on host — no corpus-global frequent
    set, the 10^12-page shape."""
    from docproc_spark.operators.dedupe import strip_host_boilerplate

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{_HB_HOST} AS host", f"{_HB_TEXT} AS text"
    )
    return strip_host_boilerplate(docs)


_HOST_TEMPLATE_SQL = f"""
WITH src AS (
  SELECT doc_id, {_HB_HOST} AS host, {_HB_TEXT} AS text FROM documents
), srcs AS (
  SELECT doc_id, host,
         string_split(replace(text, chr(13), ''), chr(10)) AS ls
  FROM src
), lines AS (
  SELECT s.doc_id, s.host, u.pos, s.ls[u.pos] AS line
  FROM srcs s, LATERAL unnest(generate_series(1, len(s.ls))) AS u(pos)
), hd AS (
  SELECT host, count(DISTINCT doc_id) AS n_docs FROM src GROUP BY host
), sight AS (
  SELECT DISTINCT host, doc_id, trim(line) AS norm
  FROM lines WHERE trim(line) <> ''
), boiler AS (
  SELECT si.host, si.norm
  FROM sight si JOIN hd USING (host)
  GROUP BY si.host, si.norm, hd.n_docs
  HAVING count(*) >= 2 AND count(*) * 1000 >= 500 * hd.n_docs
)
SELECT l.doc_id, l.host,
       coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
                FILTER (WHERE b.norm IS NULL), '') AS clean_text,
       count(*) FILTER (WHERE b.norm IS NOT NULL)::BIGINT AS n_removed
FROM lines l
LEFT JOIN boiler b ON l.host = b.host AND trim(l.line) = b.norm
GROUP BY l.doc_id, l.host
"""


def _url_features(spark, sf):
    """Crawl-prioritization URL features (functions/web.url_features):
    depth / path length / query-param count / digit density / extension
    class on the CANONICAL form. Pure map-side projection — one scan,
    zero shuffle, no Python (plan-guarded in tests)."""
    from docproc_spark.functions.web import url_features

    docs = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{_URL_SYNTH} AS url"
    )
    return url_features(docs)


def _url_features_sql() -> str:
    from docproc_spark.functions.web import MEDIA_EXTENSIONS

    return f"""
WITH u AS (
  SELECT doc_id, {_URL_SYNTH} AS url FROM documents
), {_url_canon_ctes()},
pf AS (
  SELECT doc_id, url, canonical_url, host, domain,
         regexp_replace(split_part(split_part(canonical_url, '://', 2),
                                   '?', 1), '^[^/]*', '') AS path,
         CASE WHEN instr(canonical_url, '?') > 0
              THEN substr(canonical_url, instr(canonical_url, '?') + 1)
              ELSE '' END AS q
  FROM k
), sf2 AS (
  SELECT *, list_filter(string_split(path, '/'), s -> s <> '') AS segs,
         len(regexp_replace(path, '[^0-9]', '', 'g')) AS n_digits
  FROM pf
), ef AS (
  SELECT *, lower(regexp_extract(coalesce(segs[-1], ''),
                 '\\.([0-9A-Za-z]{{1,5}})$', 1)) AS ext
  FROM sf2
)
SELECT doc_id, url, canonical_url, host, domain AS reg_domain,
       len(segs)::INT AS depth,
       length(path)::INT AS path_len,
       (CASE WHEN q = '' THEN 0 ELSE len(string_split(q, '&')) END)::INT
         AS n_params,
       ((n_digits * 1000) // greatest(length(path), 1))::INT
         AS digit_permille,
       ext,
       list_contains({list(MEDIA_EXTENSIONS)!r}, ext) AS is_media
FROM ef
"""


# soft-404 synthesis: titles that scream 404 (doc_id%11 classes), bodies
# with the marker up front (%13=3), past the 400-char probe window
# (%13=7 -> must stay clean), or natural corpus text (marker-free,
# verified at both scales).
_S404_TITLE = (
    "CASE doc_id % 11 WHEN 0 THEN '404 Not Found' "
    "WHEN 5 THEN 'Oops | Page Not Found | h' || CAST(doc_id % 7 AS STRING) "
    "ELSE 'Doc ' || CAST(doc_id AS STRING) END"
)
_S404_BODY = (
    "CASE doc_id % 13 "
    "WHEN 3 THEN 'Sorry, the page you requested could not be located.' "
    "WHEN 7 THEN repeat('z ', 220) || 'page not found' "
    "ELSE coalesce(text, '') END"
)


def _soft404(spark, sf):
    """Soft-404 detection (functions/web.soft404_flags): HTTP-200 error
    pages flagged by marker substrings in the lowered title or the
    lowered first 400 body chars; title attribution wins. Map-side only,
    zero shuffle."""
    from docproc_spark.functions.web import soft404_flags

    pages = _t(spark, sf, "documents").selectExpr(
        "doc_id", f"{_S404_TITLE} AS title", f"{_S404_BODY} AS text"
    )
    return soft404_flags(pages)


def _soft404_sql() -> str:
    from docproc_spark.functions.web import SOFT404_MARKERS

    t_hit = " OR ".join(
        f"contains(lower(coalesce(title, '')), '{m}')" for m in SOFT404_MARKERS
    )
    b_hit = " OR ".join(
        f"contains(lower(substr(coalesce(text, ''), 1, 400)), '{m}')"
        for m in SOFT404_MARKERS
    )
    return f"""
WITH pages AS (
  SELECT doc_id, {_S404_TITLE} AS title, {_S404_BODY} AS text FROM documents
)
SELECT doc_id, title, text,
       (({t_hit}) OR ({b_hit})) AS soft404,
       CASE WHEN {t_hit} THEN 'title'
            WHEN {b_hit} THEN 'body' END AS soft404_src
FROM pages
"""


# frontier synthesis: 15 hosts over 3 registered domains, depth 1-3
# (%5 classes), sitemap declarations on the even half (disagreeing
# priorities -> max; NULL priorities and index rows excluded), a 3-row
# authority table (blog.org at 0 exercises the coalesce-vs-0 identity).
_FRONTIER_URL = """
CASE doc_id % 3 WHEN 0 THEN 'http' ELSE 'https' END || '://'
|| 'h' || CAST(doc_id % 5 AS STRING)
|| CASE doc_id % 4 WHEN 1 THEN '.sites.net' WHEN 2 THEN '.blog.org'
   ELSE '.example.com' END
|| '/a' || CAST(doc_id % 13 AS STRING)
|| CASE doc_id % 5 WHEN 0 THEN '/deep/deeper' WHEN 1 THEN '/deep' ELSE '' END
""".strip().replace("\n", " ")
_FRONTIER_PRIO = "CASE doc_id % 3 WHEN 0 THEN 0.9 WHEN 1 THEN 0.35 END"
_FRONTIER_AUTH = [
    ("example.com", 0, 0, 12),
    ("sites.net", 0, 0, 3),
    ("blog.org", 0, 0, 0),
]


def _frontier_ranked(spark, sf):
    """Frontier prioritization (functions/robots.rank_frontier): sitemap
    declared priority (max per canonical loc, permille), domain authority
    (distinct referring domains), and URL depth collapsed into one
    bigint score — lexicographic (priority, authority, shallowness).
    Two AQE-broadcastable joins, no window."""
    from docproc_spark.functions.robots import rank_frontier

    docs = _t(spark, sf, "documents")
    urls = docs.selectExpr("doc_id", f"{_FRONTIER_URL} AS url")
    entries = docs.where("doc_id % 2 = 0").selectExpr(
        "doc_id % 20 = 0 AS is_index",
        f"{_FRONTIER_URL} AS loc",
        f"{_FRONTIER_PRIO} AS priority",
    )
    authority = spark.createDataFrame(
        _FRONTIER_AUTH,
        "dst_domain string, n_inlinks long, n_external_inlinks long, "
        "n_source_domains long",
    )
    return rank_frontier(urls, entries, authority)


def _frontier_ranked_sql() -> str:
    auth_rows = ", ".join(
        f"('{d}', {refs})" for d, _, _, refs in _FRONTIER_AUTH
    )
    return f"""
WITH u AS (
  SELECT doc_id, {_FRONTIER_URL} AS url FROM documents
), {_url_canon_ctes()},
feats AS (
  SELECT doc_id, url, canonical_url, host, domain,
         len(list_filter(string_split(
           regexp_replace(split_part(split_part(canonical_url, '://', 2),
                                     '?', 1), '^[^/]*', ''), '/'),
           s -> s <> ''))::BIGINT AS depth
  FROM k
), smu AS (
  SELECT doc_id, {_FRONTIER_URL} AS url,
         (doc_id % 20 = 0) AS is_index, {_FRONTIER_PRIO} AS priority
  FROM documents WHERE doc_id % 2 = 0
), {_url_canon_ctes(prefix='m', src='smu', carry=('is_index', 'priority'))},
prio AS (
  SELECT canonical_url AS p_url,
         max(CAST(floor(priority * 1000 + 0.5) AS BIGINT)) AS p_permille
  FROM mk WHERE NOT is_index AND priority IS NOT NULL
  GROUP BY 1
), auth(a_domain, a_refs) AS (
  VALUES {auth_rows}
), staged AS (
  SELECT f.doc_id, f.url, f.canonical_url, f.host,
         coalesce(p.p_permille, 500)::BIGINT AS prio_permille,
         coalesce(a.a_refs, 0)::BIGINT AS ref_domains,
         f.depth
  FROM feats f
  LEFT JOIN prio p ON f.canonical_url = p.p_url
  LEFT JOIN auth a ON f.domain = a.a_domain
)
SELECT *,
       (prio_permille * 1000000000
        + least(ref_domains, 999999) * 1000
        + (999 - least(depth, 999)))::BIGINT AS score
FROM staged
"""


# ---------------------------------------------------------------------------
# spares — interleaved-span analytics (operators/interleave.py) + recrawl
# ---------------------------------------------------------------------------
_TEXTUAL_IN_SQL = ("'code','equation','footer','handwriting','header',"
                   "'table','text','unclassified'")
_MEDIA_IN_SQL = "'figure','image'"
_SPAN_UNNEST = f"""
d AS (SELECT doc_id, spans FROM read_parquet('{SPAN_CORPUS_PATH}')),
s AS (SELECT doc_id, u.pos - 1 AS pos, spans[u.pos].kind AS kind,
             spans[u.pos].text AS text, spans[u.pos].media_ref AS media_ref
      FROM d, LATERAL unnest(generate_series(1, len(spans))) AS u(pos))"""


def _media_context(spark, sf):
    from docproc_spark.operators.interleave import media_context

    return media_context(_staged(spark))


_MEDIA_CONTEXT_SQL = f"""
WITH {_SPAN_UNNEST},
w AS (
  SELECT doc_id, pos, kind, media_ref, text AS self_text,
    last_value(CASE WHEN kind IN ({_TEXTUAL_IN_SQL}) AND text IS NOT NULL
                    THEN text END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before_text,
    first_value(CASE WHEN kind IN ({_TEXTUAL_IN_SQL}) AND text IS NOT NULL
                     THEN text END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS after_text
  FROM s)
SELECT doc_id, pos, media_ref, self_text, before_text, after_text
FROM w WHERE kind IN ({_MEDIA_IN_SQL})
"""


def _interleave_stats(spark, sf):
    from docproc_spark.operators.interleave import interleave_stats

    return interleave_stats(_staged(spark))


_INTERLEAVE_STATS_SQL = f"""
WITH {_SPAN_UNNEST},
m AS (SELECT doc_id, pos,
             CASE WHEN kind IN ({_TEXTUAL_IN_SQL}) THEN 'T'
                  WHEN kind IN ({_MEDIA_IN_SQL}) THEN 'M' END AS md
      FROM s),
mm AS (SELECT doc_id, md,
              row_number() OVER (PARTITION BY doc_id ORDER BY pos)
            - row_number() OVER (PARTITION BY doc_id, md ORDER BY pos) AS grp
       FROM m WHERE md IS NOT NULL),
runs AS (SELECT doc_id, md, grp, count(*) AS rl FROM mm GROUP BY 1, 2, 3),
runstats AS (SELECT doc_id, count(*) AS n_runs,
                    coalesce(max(rl) FILTER (WHERE md = 'T'), 0) AS max_text_run,
                    coalesce(max(rl) FILTER (WHERE md = 'M'), 0) AS max_media_run
             FROM runs GROUP BY 1),
counts AS (SELECT doc_id,
                  count(*) FILTER (WHERE md = 'T') AS n_text,
                  count(*) FILTER (WHERE md = 'M') AS n_media,
                  min(pos) FILTER (WHERE md = 'M') AS first_media_pos
           FROM m GROUP BY 1),
base AS (SELECT doc_id, coalesce(len(spans), 0) AS n_spans FROM d)
SELECT b.doc_id, b.n_spans::BIGINT AS n_spans,
       coalesce(c.n_text, 0)::BIGINT AS n_text,
       coalesce(c.n_media, 0)::BIGINT AS n_media,
       CASE WHEN b.n_spans > 0
            THEN CAST(floor((1000 * coalesce(c.n_media, 0)) / b.n_spans) AS BIGINT)
       END AS media_permille,
       coalesce(r.n_runs, 0)::BIGINT AS n_runs,
       coalesce(r.max_text_run, 0)::BIGINT AS max_text_run,
       coalesce(r.max_media_run, 0)::BIGINT AS max_media_run,
       c.first_media_pos::BIGINT AS first_media_pos
FROM base b
LEFT JOIN counts c USING (doc_id)
LEFT JOIN runstats r USING (doc_id)
"""


def _section_rollup(spark, sf):
    from docproc_spark.operators.interleave import section_rollup

    return section_rollup(_staged(spark))


_SECTION_ROLLUP_SQL = f"""
WITH {_SPAN_UNNEST},
w AS (
  SELECT doc_id, pos, kind, text,
    last_value(CASE WHEN kind = 'header' AND text IS NOT NULL
                    THEN pos END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hdr_pos,
    last_value(CASE WHEN kind = 'header' AND text IS NOT NULL
                    THEN text END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hdr_text
  FROM s)
SELECT doc_id, coalesce(hdr_pos, -1)::BIGINT AS sec_pos, hdr_text AS section,
       count(*)::BIGINT AS n_spans, sum(length(text))::BIGINT AS n_chars
FROM w
WHERE kind IN ({_TEXTUAL_IN_SQL}) AND kind <> 'header' AND text IS NOT NULL
GROUP BY 1, 2, 3
"""


def _recrawl_latest(spark, sf):
    """Recrawl snapshots synthesized from documents: 200 distinct URLs
    (doc_id mod 5 × mod 40), fetch_ts = doc_id, every third capture the
    same 'stable' payload so changed=false paths are exercised."""
    from docproc_spark.functions.web import latest_captures

    caps = _t(spark, sf, "documents").select(
        F.concat(
            F.lit("https://s"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/p/"),
            (F.col("doc_id") % 40).cast("string"),
        ).alias("url"),
        F.col("doc_id").alias("fetch_ts"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("stable"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return latest_captures(caps)


_RECRAWL_SQL = """
WITH caps AS (
  SELECT 'https://s' || (doc_id % 5) || '.example.com/p/' || (doc_id % 40) AS url,
         doc_id AS ts,
         md5(CASE WHEN doc_id % 3 = 0 THEN 'stable' ELSE text END) AS payload_sha
  FROM documents),
w AS (
  SELECT url, ts, payload_sha,
    lag(payload_sha) OVER (PARTITION BY url ORDER BY ts, payload_sha) AS prev_sha,
    (lag(1) OVER (PARTITION BY url ORDER BY ts, payload_sha)) IS NOT NULL AS has_prev,
    row_number() OVER (PARTITION BY url ORDER BY ts DESC, payload_sha DESC) AS rn,
    count(*) OVER (PARTITION BY url) AS n_captures,
    count(DISTINCT payload_sha) OVER (PARTITION BY url) AS n_distinct_payloads
  FROM caps)
SELECT url, ts AS last_ts, n_captures::BIGINT AS n_captures,
       n_distinct_payloads::BIGINT AS n_distinct_payloads, payload_sha,
       CASE WHEN has_prev
            THEN NOT (payload_sha IS NOT DISTINCT FROM prev_sha) END AS changed
FROM w WHERE rn = 1
"""


# Full-width span unnest (all five struct fields) for the template-media
# fingerprint oracle; _SPAN_UNNEST above only carries kind/text/media_ref.
_SPAN_UNNEST_FULL = f"""
d AS (SELECT doc_id, spans FROM read_parquet('{SPAN_CORPUS_PATH}')),
s AS (SELECT doc_id, u.pos - 1 AS pos, spans[u.pos].kind AS kind,
             spans[u.pos].text AS text, spans[u.pos].media_ref AS media_ref,
             spans[u.pos].page AS page, spans[u.pos]."offset" AS "offset"
      FROM d, LATERAL unnest(generate_series(1, len(spans))) AS u(pos))"""


def _media_frequency(spark, sf):
    from docproc_spark.operators.interleave import media_frequency

    return media_frequency(_staged(spark))


_MEDIA_FREQUENCY_SQL = f"""
WITH {_SPAN_UNNEST},
media AS (SELECT doc_id, pos, media_ref FROM s
          WHERE kind IN ({_MEDIA_IN_SQL}) AND media_ref IS NOT NULL),
counts AS (SELECT media_ref, count(*) AS n_spans,
                  count(DISTINCT doc_id) AS n_docs
           FROM media GROUP BY 1),
firsts AS (SELECT media_ref, doc_id, pos,
                  row_number() OVER (PARTITION BY media_ref
                                     ORDER BY doc_id, pos) AS rn
           FROM media)
SELECT c.media_ref, c.n_spans::BIGINT AS n_spans, c.n_docs::BIGINT AS n_docs,
       f.doc_id AS first_doc, f.pos::BIGINT AS first_pos
FROM counts c JOIN firsts f USING (media_ref) WHERE f.rn = 1
"""


def _template_media_clean(spark, sf):
    """strip_template_media on the staged span corpus, fingerprinted: the
    surviving span SEQUENCE hashes to one md5 per doc (fields joined with
    chr(31), spans with chr(30), NULLs as '␀') so the oracle compares
    order + every field without shipping array<struct> across engines."""
    from docproc_spark.operators.interleave import strip_template_media

    out = strip_template_media(_staged(spark), min_docs=2)
    rec = (
        "transform(spans, s -> concat_ws(char(31),"
        " coalesce(s.kind, '␀'), coalesce(s.text, '␀'),"
        " coalesce(s.media_ref, '␀'),"
        " coalesce(CAST(s.page AS STRING), '␀'),"
        " coalesce(CAST(s.offset AS STRING), '␀')))"
    )
    return out.select(
        "doc_id",
        F.when(F.col("spans").isNull(), F.lit(None).cast("bigint"))
        .otherwise(F.size("spans").cast("bigint"))
        .alias("n_spans"),
        "n_removed",
        F.when(F.col("spans").isNull(), F.lit(None).cast("string"))
        .otherwise(F.md5(F.array_join(F.expr(rec), "")))
        .alias("spans_sha"),
    )


_TEMPLATE_MEDIA_SQL = f"""
WITH {_SPAN_UNNEST_FULL},
tmpl AS (SELECT media_ref FROM s
         WHERE kind IN ({_MEDIA_IN_SQL}) AND media_ref IS NOT NULL
         GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
kept AS (SELECT s.doc_id, s.pos, s.kind, s.text, s.media_ref, s.page,
                s."offset"
         FROM s LEFT JOIN tmpl t
           ON s.media_ref = t.media_ref AND s.kind IN ({_MEDIA_IN_SQL})
         WHERE t.media_ref IS NULL),
agg AS (SELECT doc_id, count(*) AS n_kept,
               md5(coalesce(string_agg(
                 coalesce(kind, '␀') || chr(31) || coalesce(text, '␀')
                 || chr(31) || coalesce(media_ref, '␀')
                 || chr(31) || coalesce(page::VARCHAR, '␀')
                 || chr(31) || coalesce("offset"::VARCHAR, '␀'),
                 chr(30) ORDER BY pos), '')) AS spans_sha
        FROM kept GROUP BY 1),
tot AS (SELECT doc_id, len(spans) AS n0, spans IS NULL AS no_spans FROM d)
SELECT t.doc_id,
       (CASE WHEN t.no_spans THEN NULL
             ELSE coalesce(a.n_kept, 0) END)::BIGINT AS n_spans,
       (CASE WHEN t.no_spans THEN 0
             ELSE t.n0 - coalesce(a.n_kept, 0) END)::BIGINT AS n_removed,
       CASE WHEN t.no_spans THEN NULL
            ELSE coalesce(a.spans_sha, md5('')) END AS spans_sha
FROM tot t LEFT JOIN agg a USING (doc_id)
"""


def _multimodal_shards(spark, sf):
    """pack_multimodal: per-doc cost = whitespace tokens over textual
    spans + 576 visual tokens per media span, serpentine-dealt across 8
    shards in (cost DESC, doc_id) order via the range-bucketed exact
    global rank — interleaved docs are never split across sequences."""
    from docproc_spark.operators.interleave import pack_multimodal

    return pack_multimodal(_staged(spark), 8, image_tokens=576)


_MULTIMODAL_SHARDS_SQL = f"""
WITH {_SPAN_UNNEST},
costs AS (
  SELECT doc_id, sum(CASE
    WHEN kind IN ({_MEDIA_IN_SQL}) THEN 576
    WHEN kind IN ({_TEXTUAL_IN_SQL}) AND text IS NOT NULL THEN
      len(list_filter(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'),
                      t -> t <> ''))
    ELSE 0 END) AS cost
  FROM s GROUP BY 1),
t AS (SELECT d.doc_id, coalesce(c.cost, 0)::BIGINT AS cost
      FROM d LEFT JOIN costs c USING (doc_id)),
r AS (SELECT doc_id, cost,
             row_number() OVER (ORDER BY cost DESC, doc_id) AS rank
      FROM t)
SELECT doc_id, cost, rank::BIGINT AS rank,
       (CASE WHEN ((rank - 1) // 8) % 2 = 0 THEN (rank - 1) % 8
             ELSE 7 - ((rank - 1) % 8) END)::BIGINT AS shard
FROM r
"""


def _caption_pairs(spark, sf):
    """mine_caption_pairs on the staged span corpus, token-gated to
    [8, 16] — chosen against the corpus's caption-length distribution
    (6..18 tokens) so all three paths do real work here: before-side
    wins, before-fails-after-qualifies, and both-fail-no-pair."""
    from docproc_spark.operators.interleave import mine_caption_pairs

    return mine_caption_pairs(_staged(spark), min_tokens=8, max_tokens=16)


_NTOK_SQL = (
    "len(list_filter(regexp_split_to_array(trim({col}), '[ \t\n\x0b\f\r]+'),"
    " t -> t <> ''))"
)

_CAPTION_PAIRS_SQL = f"""
WITH {_SPAN_UNNEST},
w AS (
  SELECT doc_id, pos, kind, media_ref, text AS self_text,
    last_value(CASE WHEN kind IN ({_TEXTUAL_IN_SQL}) AND text IS NOT NULL
                    THEN text END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before_text,
    first_value(CASE WHEN kind IN ({_TEXTUAL_IN_SQL}) AND text IS NOT NULL
                     THEN text END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS after_text
  FROM s),
g AS (
  SELECT doc_id, pos, media_ref, self_text, before_text, after_text,
         {_NTOK_SQL.format(col='self_text')} AS ns,
         {_NTOK_SQL.format(col='before_text')} AS nb,
         {_NTOK_SQL.format(col='after_text')} AS na
  FROM w WHERE kind IN ({_MEDIA_IN_SQL}) AND media_ref IS NOT NULL),
j AS (
  SELECT *, (self_text IS NOT NULL AND ns BETWEEN 8 AND 16) AS ok_s,
            (before_text IS NOT NULL AND nb BETWEEN 8 AND 16) AS ok_b,
            (after_text IS NOT NULL AND na BETWEEN 8 AND 16) AS ok_a
  FROM g)
SELECT doc_id, pos, media_ref,
       CASE WHEN ok_s THEN self_text
            WHEN ok_b THEN before_text ELSE after_text END AS caption,
       (CASE WHEN ok_s THEN ns
             WHEN ok_b THEN nb ELSE na END)::BIGINT AS n_tokens,
       CASE WHEN ok_s THEN 'alt'
            WHEN ok_b THEN 'before' ELSE 'after' END AS side
FROM j WHERE ok_s OR ok_b OR ok_a
"""


def _media_jaccard(spark, sf):
    """media_jaccard_pairs at cap 100 / threshold 100 permille: the
    corpus's 110-document template logo is EXCLUDED by the cap (the cap
    path does real work here), so pairs come from genuinely shared
    non-chrome media identities."""
    from docproc_spark.operators.interleave import media_jaccard_pairs

    return media_jaccard_pairs(
        _staged(spark), max_docs_per_ref=100, min_jaccard_e3=100
    )


_MEDIA_JACCARD_SQL = f"""
WITH {_SPAN_UNNEST},
refs AS (SELECT DISTINCT doc_id, media_ref AS ref FROM s
         WHERE kind IN ({_MEDIA_IN_SQL}) AND media_ref IS NOT NULL),
kept AS (SELECT doc_id, ref FROM refs
         QUALIFY count(*) OVER (PARTITION BY ref) <= 100),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
sh AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
       FROM kept x JOIN kept y ON x.ref = y.ref AND x.doc_id < y.doc_id
       GROUP BY 1, 2)
SELECT a, b, shared::BIGINT AS shared, sa.n::BIGINT AS na, sb.n::BIGINT AS nb,
       ((1000 * shared) // (sa.n + sb.n - shared))::BIGINT AS jaccard_e3
FROM sh JOIN sizes sa ON sh.a = sa.doc_id JOIN sizes sb ON sh.b = sb.doc_id
WHERE (1000 * shared) // (sa.n + sb.n - shared) >= 100
"""


def _multimodal_chunks(spark, sf):
    """multimodal_chunks at budget 256 / 64 visual tokens per image:
    span-atomic chunking with exclusive-prefix placement."""
    from docproc_spark.operators.interleave import multimodal_chunks

    return multimodal_chunks(_staged(spark), budget=256, image_tokens=64)


_MULTIMODAL_CHUNKS_SQL = f"""
WITH {_SPAN_UNNEST},
c AS (SELECT doc_id, pos,
        CASE WHEN kind IN ({_MEDIA_IN_SQL}) THEN 64
             WHEN kind IN ({_TEXTUAL_IN_SQL}) AND text IS NOT NULL
               THEN {_NTOK_SQL.format(col='text')}
             ELSE 0 END AS cost,
        CASE WHEN kind IN ({_MEDIA_IN_SQL}) THEN 1 ELSE 0 END AS is_media
      FROM s),
p AS (SELECT *, coalesce(sum(cost) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM c)
SELECT doc_id, (prefix // 256)::BIGINT AS chunk_id,
       count(*)::BIGINT AS n_spans, sum(is_media)::BIGINT AS n_media,
       sum(cost)::BIGINT AS n_tokens,
       min(pos)::BIGINT AS first_pos, max(pos)::BIGINT AS last_pos
FROM p GROUP BY 1, 2
"""


def _curate_interleaved(spark, sf):
    """curate_interleaved on the staged span corpus at gates tuned so
    every stage does real work here (template strip removes the
    110-doc logo; 66 docs fail contextualization, 26 fail media
    density, 610 fail the text gate). The cleaned spans are dropped
    from the spare (template_media_clean already fingerprints the
    identical min_docs=2 cleaning); the verdict trail is the oracle."""
    from docproc_spark.operators.interleave import curate_interleaved

    out = curate_interleaved(
        _staged(spark).select("doc_id", "spans"),
        min_docs_template=2,
        min_tokens=20,
        max_media_permille=480,
        max_gap=2,
        min_ctx_permille=700,
    )
    return out.drop("spans")


_CURATE_INTERLEAVED_SQL = f"""
WITH {_SPAN_UNNEST},
tmpl AS (SELECT media_ref FROM s
         WHERE kind IN ({_MEDIA_IN_SQL}) AND media_ref IS NOT NULL
         GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
kept AS (SELECT s.doc_id, s.kind, s.text,
                row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos) - 1
                  AS cpos
         FROM s LEFT JOIN tmpl t
           ON s.media_ref = t.media_ref AND s.kind IN ({_MEDIA_IN_SQL})
         WHERE t.media_ref IS NULL),
txt AS (SELECT doc_id, cpos FROM kept
        WHERE kind IN ({_TEXTUAL_IN_SQL}) AND text IS NOT NULL),
med AS (SELECT doc_id, cpos FROM kept WHERE kind IN ({_MEDIA_IN_SQL})),
ctxn AS (SELECT m.doc_id, count(*) AS n_ctx FROM med m
         WHERE EXISTS (SELECT 1 FROM txt t
                       WHERE t.doc_id = m.doc_id
                         AND abs(t.cpos - m.cpos) <= 2)
         GROUP BY 1),
agg AS (SELECT doc_id, count(*) AS n_clean,
          count(*) FILTER (WHERE kind IN ({_TEXTUAL_IN_SQL})
                             AND text IS NOT NULL) AS n_text,
          count(*) FILTER (WHERE kind IN ({_MEDIA_IN_SQL})) AS n_media,
          coalesce(sum(CASE WHEN kind IN ({_TEXTUAL_IN_SQL})
                              AND text IS NOT NULL
                            THEN {_NTOK_SQL.format(col='text')}
                            ELSE 0 END), 0) AS n_tokens
        FROM kept GROUP BY 1),
base AS (SELECT doc_id, coalesce(len(spans), 0) AS n0 FROM d),
v AS (SELECT b.doc_id,
        (b.n0 - coalesce(a.n_clean, 0))::BIGINT AS n_removed,
        coalesce(a.n_text, 0)::BIGINT AS n_text,
        coalesce(a.n_media, 0)::BIGINT AS n_media,
        coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
        CASE WHEN coalesce(a.n_clean, 0) > 0
             THEN ((1000 * a.n_media) // a.n_clean)::BIGINT END
          AS media_permille,
        CASE WHEN coalesce(a.n_media, 0) > 0
             THEN ((1000 * coalesce(c.n_ctx, 0)) // a.n_media)::BIGINT END
          AS ctx_permille
      FROM base b LEFT JOIN agg a USING (doc_id)
      LEFT JOIN ctxn c USING (doc_id))
SELECT doc_id, n_removed, n_text, n_media, n_tokens, media_permille,
       ctx_permille,
       (n_text >= 1 AND n_tokens >= 20) AS text_keep,
       (n_media = 0 OR media_permille <= 480) AS media_keep,
       (n_media = 0 OR ctx_permille >= 700) AS ctx_keep,
       ((n_text >= 1 AND n_tokens >= 20)
        AND (n_media = 0 OR media_permille <= 480)
        AND (n_media = 0 OR ctx_permille >= 700)) AS keep
FROM v
"""


def _media_headers(spark, sf):
    """REAL container-header parsing (kernels/mediainfo.py) under a
    round-trip oracle: Spark synthesizes actual PNG/GIF/WAV bytes from
    doc_id (struct-packed headers, real CRCs), the real parser reads
    them back, and DuckDB recomputes the planted values by formula —
    the parser must exactly invert the synthesis. The byte layouts
    themselves are pinned against fully valid files (PNG via zlib, WAV
    via the wave module) in tests/test_mediainfo.py; JPEG/WEBP/BMP/AVI/
    MP4 are unit-fixture-covered there (marker scans don't round-trip
    from a formula)."""
    import struct as _struct
    import zlib as _zlib

    from docproc_spark.kernels.mediainfo import sniff_media_header

    def _blob(doc_id: int) -> bytes:
        cls = doc_id % 3
        if cls == 0:  # PNG: sig + IHDR + IEND, real chunk CRCs
            w, h = 1 + doc_id % 4093, 1 + (doc_id * 7) % 2039
            ihdr = _struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
            out = b"\x89PNG\r\n\x1a\n"
            for ctype, payload in ((b"IHDR", ihdr), (b"IEND", b"")):
                out += (
                    _struct.pack(">I", len(payload)) + ctype + payload
                    + _struct.pack(">I", _zlib.crc32(ctype + payload))
                )
            return out
        if cls == 1:  # GIF89a logical screen descriptor + trailer
            w, h = 1 + doc_id % 4093, 1 + (doc_id * 7) % 2039
            return b"GIF89a" + _struct.pack("<HH", w, h) + b"\x00\x00\x00;"
        ch = 1 + doc_id % 2  # WAV: canonical 44-byte header + silence
        rate = 8000 * (1 + doc_id % 3)
        dsize = (50 + doc_id % 97) * ch * 2
        return (
            b"RIFF" + _struct.pack("<I", 36 + dsize) + b"WAVEfmt "
            + _struct.pack("<IHHIIHH", 16, 1, ch, rate, rate * ch * 2, ch * 2, 16)
            + b"data" + _struct.pack("<I", dsize) + b"\x00" * dsize
        )

    def kernel(batches):
        for pdf in batches:
            metas = [sniff_media_header(_blob(int(i))) for i in pdf["doc_id"]]
            blobs = [_blob(int(i)) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": [m["format"] for m in metas],
                    "media_kind": [m["media_kind"] for m in metas],
                    "n_bytes": pd.array([len(b) for b in blobs], dtype="Int64"),
                    "width": pd.array([m["width"] for m in metas], dtype="Int32"),
                    "height": pd.array([m["height"] for m in metas], dtype="Int32"),
                    "duration_ms": pd.array(
                        [m["duration_ms"] for m in metas], dtype="Int64"
                    ),
                    "sample_rate": pd.array(
                        [m["sample_rate"] for m in metas], dtype="Int32"
                    ),
                    "channels": pd.array(
                        [m["channels"] for m in metas], dtype="Int32"
                    ),
                }
            )

    return _t(spark, sf, "documents").select("doc_id").mapInPandas(
        kernel,
        schema=(
            "doc_id long, format string, media_kind string, n_bytes long, "
            "width int, height int, duration_ms long, sample_rate int, "
            "channels int"
        ),
    )


_MEDIA_HEADERS_SQL = """
WITH d AS (SELECT doc_id, doc_id % 3 AS cls FROM documents)
SELECT doc_id,
  CASE cls WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'wav' END AS format,
  CASE WHEN cls = 2 THEN 'audio' ELSE 'image' END AS media_kind,
  CAST(CASE cls WHEN 0 THEN 45 WHEN 1 THEN 14
       ELSE 44 + (50 + doc_id % 97) * (1 + doc_id % 2) * 2 END AS BIGINT)
    AS n_bytes,
  CAST(CASE WHEN cls <= 1 THEN 1 + doc_id % 4093 END AS INT) AS width,
  CAST(CASE WHEN cls <= 1 THEN 1 + (doc_id * 7) % 2039 END AS INT) AS height,
  CAST(CASE WHEN cls = 2
       THEN ((50 + doc_id % 97) * (1 + doc_id % 2) * 2 * 1000)
            // (8000 * (1 + doc_id % 3) * (1 + doc_id % 2) * 2)
       END AS BIGINT) AS duration_ms,
  CAST(CASE WHEN cls = 2 THEN 8000 * (1 + doc_id % 3) END AS INT)
    AS sample_rate,
  CAST(CASE WHEN cls = 2 THEN 1 + doc_id % 2 END AS INT) AS channels
FROM d
"""


def _media_meta_gated(spark, sf):
    """gate_media_spans (operators/interleave.py) under a synthesized
    blob catalogue: every distinct (doc, media_ref) gets md5-derived
    width/height (the engine-portable conv/hex-cast trick — bit-equal in
    DuckDB), then gates min_width=100 / min_height=80 drop the ~14% of
    blob rows whose planted dims fall below the floors. The oracle
    recomputes surviving span counts per document from the same
    formulas, NULL/empty span docs pass through untouched."""
    from docproc_spark.operators.interleave import gate_media_spans

    docs = _staged(spark).select("doc_id", "spans")
    refs = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(filter(spans, s -> s.kind IN ('figure','image')"
                " AND s.media_ref IS NOT NULL), s -> s.media_ref)"
            )
        ).alias("media_ref"),
    ).distinct()

    def h(prefix: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), F.col("media_ref"))), 1, 8
            ),
            16,
            10,
        ).cast("long")

    cat = refs.select(
        "doc_id",
        "media_ref",
        ((h("w:") % 1200) + 1).cast("int").alias("width"),
        ((h("h:") % 800) + 1).cast("int").alias("height"),
    )
    out = gate_media_spans(docs, cat, min_width=100, min_height=80)
    return out.select(
        "doc_id",
        F.when(F.col("spans").isNull(), F.lit(None))
        .otherwise(F.size("spans"))
        .cast("long")
        .alias("n_spans_after"),
        F.col("n_removed"),
    )


_MEDIA_META_GATED_SQL = f"""
WITH {_SPAN_UNNEST},
alldocs AS (SELECT doc_id, spans IS NULL AS spans_null FROM d),
tot AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1),
refs AS (SELECT DISTINCT doc_id, media_ref AS ref FROM s
         WHERE kind IN ({_MEDIA_IN_SQL}) AND media_ref IS NOT NULL),
cat AS (SELECT doc_id, ref,
          1 + CAST('0x' || substr(md5('w:' || ref), 1, 8) AS BIGINT)
              % 1200 AS width,
          1 + CAST('0x' || substr(md5('h:' || ref), 1, 8) AS BIGINT)
              % 800 AS height
        FROM refs),
bad AS (SELECT doc_id, ref FROM cat WHERE width < 100 OR height < 80),
rem AS (SELECT s.doc_id, count(*) AS n_removed FROM s
        JOIN bad ON s.doc_id = bad.doc_id AND s.media_ref = bad.ref
        WHERE s.kind IN ({_MEDIA_IN_SQL})
        GROUP BY 1)
SELECT a.doc_id,
       CAST(CASE WHEN a.spans_null THEN NULL
            ELSE coalesce(tot.n, 0) - coalesce(rem.n_removed, 0) END
            AS BIGINT) AS n_spans_after,
       CAST(coalesce(rem.n_removed, 0) AS BIGINT) AS n_removed
FROM alldocs a
LEFT JOIN tot ON a.doc_id = tot.doc_id
LEFT JOIN rem ON a.doc_id = rem.doc_id
"""


def _media_report_synth(spark, sf):
    """operators/report.media_report over a catalogue built by the REAL
    header sniffer on synthesized blobs (PNG/GIF/WAV + an unsniffable
    junk class → the '<null>' label; every tenth PNG is a 1x1 beacon).
    The oracle recomputes every planted fact by formula and aggregates
    identically — so the parser, the catalogue shaping, AND the report
    rollup are all under one bit-exact check. n_blobs compares because
    the blob bytes are a pure function of the planted parameter tuple:
    count(DISTINCT sha256) == count(DISTINCT params)."""
    import hashlib as _hashlib
    import struct as _struct
    import zlib as _zlib

    from docproc_spark.kernels.mediainfo import sniff_media_header
    from docproc_spark.operators.report import media_report

    def _blob(doc_id: int) -> bytes:
        cls = doc_id % 4
        if cls == 0:  # PNG; every tenth doc plants a 1x1 beacon
            if doc_id % 10 == 0:
                w = h = 1
            else:
                w, h = 1 + doc_id % 4093, 1 + (doc_id * 7) % 2039
            ihdr = _struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
            out = b"\x89PNG\r\n\x1a\n"
            for ctype, payload in ((b"IHDR", ihdr), (b"IEND", b"")):
                out += (
                    _struct.pack(">I", len(payload)) + ctype + payload
                    + _struct.pack(">I", _zlib.crc32(ctype + payload))
                )
            return out
        if cls == 1:  # GIF89a
            w, h = 1 + doc_id % 4093, 1 + (doc_id * 7) % 2039
            return b"GIF89a" + _struct.pack("<HH", w, h) + b"\x00\x00\x00;"
        if cls == 2:  # WAV
            ch = 1 + doc_id % 2
            rate = 8000 * (1 + doc_id % 3)
            dsize = (50 + doc_id % 97) * ch * 2
            return (
                b"RIFF" + _struct.pack("<I", 36 + dsize) + b"WAVEfmt "
                + _struct.pack(
                    "<IHHIIHH", 16, 1, ch, rate, rate * ch * 2, ch * 2, 16
                )
                + b"data" + _struct.pack("<I", dsize) + b"\x00" * dsize
            )
        # unsniffable junk — length still planted
        return b"\x00" * (10 + doc_id % 5)

    def kernel(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                b = _blob(i)
                m = sniff_media_header(b)
                rows.append(
                    {
                        "doc_id": i,
                        "media_ref": _hashlib.sha256(b).hexdigest(),
                        "n_refs": 1 + i % 3,
                        "n_bytes": len(b),
                        "format": m["format"],
                        "media_kind": m["media_kind"],
                        "width": m["width"],
                        "height": m["height"],
                        "duration_ms": m["duration_ms"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "media_ref", "n_refs", "n_bytes", "format",
                    "media_kind", "width", "height", "duration_ms",
                ],
            )

    cat = _t(spark, sf, "documents").select("doc_id").mapInPandas(
        kernel,
        schema=(
            "doc_id long, media_ref string, n_refs int, n_bytes long,"
            " format string, media_kind string, width int, height int,"
            " duration_ms long"
        ),
    )
    return media_report(cat)


_MEDIA_REPORT_SQL = """
WITH c AS (
  SELECT doc_id, doc_id % 4 AS cls,
    CASE WHEN doc_id % 4 = 0 AND doc_id % 10 = 0 THEN 1
         WHEN doc_id % 4 <= 1 THEN 1 + doc_id % 4093 END AS width,
    CASE WHEN doc_id % 4 = 0 AND doc_id % 10 = 0 THEN 1
         WHEN doc_id % 4 <= 1 THEN 1 + (doc_id * 7) % 2039 END AS height,
    CASE WHEN doc_id % 4 = 2
         THEN ((50 + doc_id % 97) * (1 + doc_id % 2) * 2 * 1000)
              // (8000 * (1 + doc_id % 3) * (1 + doc_id % 2) * 2)
         ELSE 0 END AS duration_ms,
    CASE doc_id % 4 WHEN 0 THEN 45 WHEN 1 THEN 14
      WHEN 2 THEN 44 + (50 + doc_id % 97) * (1 + doc_id % 2) * 2
      ELSE 10 + doc_id % 5 END AS n_bytes,
    1 + doc_id % 3 AS n_refs,
    CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'wav'
      ELSE '<null>' END AS format,
    CASE doc_id % 4 WHEN 2 THEN 'audio' WHEN 3 THEN '<null>'
      ELSE 'image' END AS media_kind,
    -- the blob is a pure function of this tuple, so DISTINCT params
    -- and DISTINCT sha256 have equal cardinality
    concat_ws(':', doc_id % 4,
      CASE WHEN doc_id % 4 = 0 AND doc_id % 10 = 0 THEN 1
           WHEN doc_id % 4 <= 1 THEN 1 + doc_id % 4093 ELSE -1 END,
      CASE WHEN doc_id % 4 = 0 AND doc_id % 10 = 0 THEN 1
           WHEN doc_id % 4 <= 1 THEN 1 + (doc_id * 7) % 2039 ELSE -1 END,
      CASE WHEN doc_id % 4 = 2 THEN 1 + doc_id % 2 ELSE -1 END,
      CASE WHEN doc_id % 4 = 2 THEN 8000 * (1 + doc_id % 3) ELSE -1 END,
      CASE WHEN doc_id % 4 = 2
           THEN (50 + doc_id % 97) * (1 + doc_id % 2) * 2 ELSE -1 END,
      CASE WHEN doc_id % 4 = 3 THEN 10 + doc_id % 5 ELSE -1 END
    ) AS params
  FROM documents)
SELECT media_kind, format,
  count(*) AS n_rows,
  count(DISTINCT params) AS n_blobs,
  count(DISTINCT doc_id) AS n_docs,
  sum(n_refs)::BIGINT AS n_shown,
  sum(n_bytes)::BIGINT AS total_bytes,
  sum(duration_ms)::BIGINT AS total_duration_ms,
  sum(CASE WHEN width <= 2 AND height <= 2 THEN 1 ELSE 0 END)::BIGINT
    AS n_beacons,
  min(width) AS min_width, max(width) AS max_width,
  min(height) AS min_height, max(height) AS max_height
FROM c GROUP BY 1, 2
"""


def _synth_srt_cues(spark, sf):
    """Real SRT parsing (sources/subtitles.parse_srt) under a round-trip
    oracle: Spark renders actual SRT text (index lines, comma
    timestamps, a multiline cue every other index) from doc_id
    formulas, the real parser reads it back, DuckDB recomputes the
    planted cues — the parser must exactly invert the rendering."""
    from docproc_spark.sources.subtitles import parse_srt

    def _fmt(ms: int) -> str:
        s, ms = divmod(ms, 1000)
        m, s = divmod(s, 60)
        h, m = divmod(m, 60)
        return f"{h:02d}:{m:02d}:{s:02d},{ms:03d}"

    def _srt(doc_id: int) -> str:
        blocks = []
        for k in range(1 + doc_id % 4):
            start = k * 3000 + (doc_id % 7) * 10
            end = start + 1500 + ((doc_id + k) % 5) * 100
            text = f"cue {k} of doc {doc_id}" + (
                "\nline two" if k % 2 == 1 else ""
            )
            blocks.append(f"{k + 1}\n{_fmt(start)} --> {_fmt(end)}\n{text}\n")
        return "\n".join(blocks)

    def kernel(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                for idx, s, e, text in parse_srt(_srt(i)):
                    rows.append(
                        {"doc_id": i, "cue_idx": idx, "start_ms": s,
                         "end_ms": e, "text": text}
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "cue_idx", "start_ms", "end_ms", "text"],
            )

    return _t(spark, sf, "documents").select("doc_id").mapInPandas(
        kernel,
        schema=(
            "doc_id long, cue_idx int, start_ms long, end_ms long,"
            " text string"
        ),
    )


_SRT_CUES_SQL = """
WITH d AS (SELECT doc_id, 1 + doc_id % 4 AS n FROM documents),
k AS (SELECT doc_id, u.k - 1 AS k FROM d,
      LATERAL unnest(generate_series(1, n)) AS u(k))
SELECT doc_id, CAST(k AS INT) AS cue_idx,
  CAST(k * 3000 + (doc_id % 7) * 10 AS BIGINT) AS start_ms,
  CAST(k * 3000 + (doc_id % 7) * 10 + 1500 + ((doc_id + k) % 5) * 100
       AS BIGINT) AS end_ms,
  'cue ' || k || ' of doc ' || doc_id
    || CASE WHEN k % 2 = 1 THEN chr(10) || 'line two' ELSE '' END AS text
FROM k
"""


def _transcript_stats_synth(spark, sf):
    """transcript_stats over the synthesized-then-really-parsed cue
    table — the per-document speech-density/token-rate gates, integer
    div only, recomputed by DuckDB from the same cue formulas."""
    from docproc_spark.sources.subtitles import transcript_stats

    return transcript_stats(
        _synth_srt_cues(spark, sf).withColumn(
            "parse_error", F.lit(None).cast("string")
        )
    )


_TRANSCRIPT_STATS_SQL = f"""
WITH cues AS ({_SRT_CUES_SQL})
SELECT doc_id,
  count(*) AS n_cues,
  (max(end_ms) - min(start_ms))::BIGINT AS span_ms,
  sum(end_ms - start_ms)::BIGINT AS speech_ms,
  CASE WHEN max(end_ms) - min(start_ms) > 0
       THEN (1000 * sum(end_ms - start_ms))
            // (max(end_ms) - min(start_ms)) ELSE 0 END::BIGINT
    AS speech_permille,
  sum(length(text))::BIGINT AS n_chars,
  sum(5 + CASE WHEN cue_idx % 2 = 1 THEN 2 ELSE 0 END)::BIGINT AS n_tokens,
  CASE WHEN sum(end_ms - start_ms) > 0
       THEN (sum(5 + CASE WHEN cue_idx % 2 = 1 THEN 2 ELSE 0 END) * 60000)
            // sum(end_ms - start_ms) ELSE 0 END::BIGINT AS tokens_per_min
FROM cues GROUP BY doc_id
"""


def _image_dhash_synth(spark, sf):
    """REAL pixel decode + perceptual hashing under a round-trip
    oracle — THREE decoders under one SQL: per document, the same
    md5-formula 9x8 grayscale pixels are containerized as PNG
    (doc_id%3==0: real zlib stream + CRCs), bottom-up 24-bit BMP
    (==1), or uncompressed little-endian TIFF (==2); the REAL decoder
    family + dHash read them back (inflate/unfilter, BMP row flip,
    TIFF strip walk, BT.601 luma, identity box resample, signed-64
    fold), and DuckDB recomputes the hash from the pixel formula with
    bit arithmetic — container-independent, so all three decode paths
    must agree with the formula AND each other."""
    import hashlib as _hl
    import struct as _struct

    from docproc_spark.kernels.imagepix import encode_png, image_signature

    W, H = 9, 8

    def blob(d: int) -> bytes:
        px = bytearray()
        for y in range(H):
            for x in range(W):
                g = int(_hl.md5(f"{d}:{x}:{y}".encode()).hexdigest()[:2], 16)
                px += bytes([g, g, g])
        cls = d % 3
        if cls == 0:
            return encode_png(bytes(px), W, H)
        if cls == 1:  # BMP: BGR rows, bottom-up, 4-byte padded
            stride = (W * 3 + 3) & ~3
            body = bytearray()
            for y in range(H - 1, -1, -1):
                row = bytearray()
                for x in range(W):
                    r, g2, bl = px[(y * W + x) * 3 : (y * W + x) * 3 + 3]
                    row += bytes([bl, g2, r])
                body += row + b"\x00" * (stride - len(row))
            info = _struct.pack(
                "<IiiHHIIiiII", 40, W, H, 1, 24, 0, len(body),
                2835, 2835, 0, 0,
            )
            off = 14 + len(info)
            return (
                b"BM" + _struct.pack("<IHHI", off + len(body), 0, 0, off)
                + info + bytes(body)
            )
        # TIFF: gray samples, one uncompressed strip, little-endian
        gray = bytes(px[3 * i] for i in range(W * H))

        def ent(tag, typ, cnt, val):
            return _struct.pack("<HHI", tag, typ, cnt) + _struct.pack(
                "<I", val
            )

        n_ent = 8
        strips_at = 8 + 2 + 12 * n_ent + 4
        ifd = _struct.pack("<H", n_ent)
        for tag, typ, cnt, val in (
            (256, 4, 1, W), (257, 4, 1, H), (258, 3, 1, 8), (259, 3, 1, 1),
            (262, 3, 1, 1), (273, 4, 1, strips_at), (278, 4, 1, H),
            (279, 4, 1, len(gray)),
        ):
            ifd += ent(tag, typ, cnt, val)
        ifd += _struct.pack("<I", 0)
        return b"II" + _struct.pack("<HI", 42, 8) + ifd + gray

    def kernel(batches):
        for pdf in batches:
            sigs = [image_signature(blob(int(d))) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.array([s["width"] for s in sigs], dtype="Int32"),
                    "height": pd.array([s["height"] for s in sigs], dtype="Int32"),
                    "gray_mean": pd.array(
                        [s["gray_mean"] for s in sigs], dtype="Int32"
                    ),
                    "dhash64": pd.array(
                        [s["dhash64"] for s in sigs], dtype="Int64"
                    ),
                }
            )

    return _t(spark, sf, "documents").select("doc_id").mapInPandas(
        kernel,
        schema="doc_id long, width int, height int, gray_mean int, dhash64 long",
    )


# dHash from the planted formula: g(d,x,y) = first md5 byte of 'd:x:y';
# luma of (g,g,g) is g and the 9x8→9x8 resample is the identity, so the
# bit at (y,x) is g(x)>g(x+1). The signed-64 fold keeps every term in
# BIGINT: the MSB (idx 0) contributes -2^63 instead of +2^63.
_IMAGE_DHASH_SQL = """
WITH grid AS (
  SELECT d.doc_id, y.y, x.x,
    CAST(concat('0x', substr(md5(concat(CAST(d.doc_id AS VARCHAR), ':',
         CAST(x.x AS VARCHAR), ':', CAST(y.y AS VARCHAR))), 1, 2))
         AS BIGINT) AS g
  FROM documents d, range(8) y(y), range(9) x(x)
), bits AS (
  SELECT a.doc_id, (a.y * 8 + a.x) AS idx,
    CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
  FROM grid a JOIN grid b
    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
  WHERE a.x < 8
)
, dh AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN bit = 0 THEN 0
         WHEN idx = 0 THEN CAST('-9223372036854775808' AS BIGINT)
         ELSE (CAST(1 AS BIGINT) << (63 - idx)) END) AS BIGINT) AS dhash64
  FROM bits GROUP BY doc_id
), gm AS (
  SELECT doc_id, CAST(sum(g) // 72 AS INT) AS gray_mean
  FROM grid GROUP BY doc_id
)
SELECT gm.doc_id, 9 AS width, 8 AS height, gm.gray_mean, dh.dhash64
FROM gm JOIN dh USING (doc_id)
"""


def _image_neardup_synth(spark, sf):
    """Generic pigeonhole-banded hamming pairs
    (operators/dedupe.hamming_neardup_pairs — the engine behind
    perceptual image dedupe) under a brute-force oracle: 200 planted
    full-64-bit signatures (md5 hi/lo words, signed fold, one
    per-document bit flip → clusters of hamming ≤ 2) go through the
    BANDED plan in Spark, while DuckDB computes ALL pairs with
    bit_count(xor) — equality proves the pigeonhole candidate
    generation has no false negatives at max_hamming < n_bands,
    including across the sign bit in the top band."""
    from docproc_spark.operators.dedupe import hamming_neardup_pairs

    ids = _t(spark, sf, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    k = (F.col("doc_id") % 37).cast("string")

    def word(prefix: str):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), k)), 1, 8), 16, 10
        ).cast("long")

    hi = word("hi:")  # 0..2^32-1
    lo = word("lo:")
    hi_signed = F.when(hi >= F.lit(2**31), hi - F.lit(2**32)).otherwise(hi)
    base = hi_signed * F.lit(2**32).cast("long") + lo
    # shiftleft() takes a literal shift count, so the per-row shift is
    # an expr; the b=63 CASE keeps both engines off the 1<<63 overflow
    # edge (DuckDB errors, Spark wraps)
    flip = F.expr(
        "CASE WHEN (doc_id * 11) % 64 = 63 "
        "THEN CAST('-9223372036854775808' AS BIGINT) "
        "ELSE shiftleft(CAST(1 AS BIGINT), CAST((doc_id * 11) % 64 AS INT)) "
        "END"
    )
    sigs = ids.select("doc_id", base.bitwiseXOR(flip).alias("sig"))
    return hamming_neardup_pairs(
        sigs, sig_col="sig", id_col="doc_id",
        max_hamming=3, n_bands=4, n_bits=64, log_dropped=False,
    )


_IMAGE_NEARDUP_SQL = """
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 200
), sigs AS (
  SELECT doc_id,
    xor(
      (CASE WHEN CAST(concat('0x', substr(md5(concat('hi:',
              CAST(doc_id % 37 AS VARCHAR))), 1, 8)) AS BIGINT) >= 2147483648
            THEN CAST(concat('0x', substr(md5(concat('hi:',
              CAST(doc_id % 37 AS VARCHAR))), 1, 8)) AS BIGINT) - 4294967296
            ELSE CAST(concat('0x', substr(md5(concat('hi:',
              CAST(doc_id % 37 AS VARCHAR))), 1, 8)) AS BIGINT) END)
        * 4294967296
      + CAST(concat('0x', substr(md5(concat('lo:',
          CAST(doc_id % 37 AS VARCHAR))), 1, 8)) AS BIGINT),
      CASE WHEN (doc_id * 11) % 64 = 63
           THEN CAST('-9223372036854775808' AS BIGINT)
           ELSE (CAST(1 AS BIGINT) << CAST((doc_id * 11) % 64 AS INT)) END
    ) AS sig
  FROM ids
)
SELECT x.doc_id AS a, y.doc_id AS b,
  CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.sig, y.sig)) <= 3
"""


def _audio_features_synth(spark, sf):
    """REAL PCM decode + integer audio features under a round-trip
    oracle: Spark writes a true RIFF/WAVE PCM file per document
    (md5-formula 16-bit samples, variable length and rate), the real
    kernel (kernels/audiofeat.py) parses the container and computes
    energy/silence/clip/crossing features, and DuckDB recomputes every
    one from the planted formula — parser, normalization, and each
    integer reduction must agree exactly."""
    import hashlib as _hl
    import struct as _struct

    from docproc_spark.kernels.audiofeat import wav_features

    def blob(d: int) -> bytes:
        n = 50 + d % 97
        rate = 8000 * (1 + d % 3)
        samples = [
            int(_hl.md5(f"s:{d}:{i}".encode()).hexdigest()[:4], 16) - 32768
            for i in range(n)
        ]
        data = b"".join(_struct.pack("<h", s) for s in samples)
        fmt = _struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        body = (
            b"fmt " + _struct.pack("<I", len(fmt)) + fmt
            + b"data" + _struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    keys = (
        "sample_rate", "n_frames", "duration_ms", "mean_square",
        "peak_abs", "silence_permille", "clip_permille", "zero_crossings",
    )

    def kernel(batches):
        for pdf in batches:
            feats = [wav_features(blob(int(d))) for d in pdf["doc_id"]]
            out = {"doc_id": pdf["doc_id"]}
            for k in keys:
                out[k] = pd.array([f[k] for f in feats], dtype="Int64")
            yield pd.DataFrame(out)

    return _t(spark, sf, "documents").select("doc_id").mapInPandas(
        kernel,
        schema="doc_id long, " + ", ".join(f"{k} long" for k in keys),
    )


_AUDIO_FEATURES_SQL = """
WITH s AS (
  SELECT d.doc_id, i.i,
    CAST(concat('0x', substr(md5(concat('s:', CAST(d.doc_id AS VARCHAR),
         ':', CAST(i.i AS VARCHAR))), 1, 4)) AS BIGINT) - 32768 AS v
  FROM documents d, range(147) i(i)
  WHERE i.i < 50 + d.doc_id % 97
), zc AS (
  SELECT a.doc_id,
    sum(CASE WHEN (a.v < 0) <> (b.v < 0) THEN 1 ELSE 0 END) AS crossings
  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  GROUP BY a.doc_id
)
SELECT s.doc_id,
  CAST(8000 * (1 + s.doc_id % 3) AS BIGINT) AS sample_rate,
  CAST(count(*) AS BIGINT) AS n_frames,
  CAST(count(*) * 1000 // (8000 * (1 + s.doc_id % 3)) AS BIGINT)
    AS duration_ms,
  CAST(sum(v * v) // count(*) AS BIGINT) AS mean_square,
  CAST(max(abs(v)) AS BIGINT) AS peak_abs,
  CAST(sum(CASE WHEN abs(v) < 327 THEN 1 ELSE 0 END) * 1000 // count(*)
    AS BIGINT) AS silence_permille,
  CAST(sum(CASE WHEN abs(v) >= 32760 THEN 1 ELSE 0 END) * 1000 // count(*)
    AS BIGINT) AS clip_permille,
  CAST(coalesce(any_value(zc.crossings), 0) AS BIGINT) AS zero_crossings
FROM s LEFT JOIN zc ON s.doc_id = zc.doc_id
GROUP BY s.doc_id
"""


_SPARE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q6_forecast_revenue": _q6,
    "q14_promo_revenue": _q14_promo_revenue,
    "lsh_ann_topk": _lsh_ann_topk,
    "line_dedupe_clean": _line_dedupe,
    "pii_redacted": _pii_redacted,
    "repeated_window_frac": _repeated_windows,
    "pack_sequences_512": _pack_sequences,
    "cap_per_source": _cap_per_source,
    "embeddings_quantized": _embeddings_quantized,
    "decontaminated_docs": _decontaminated,
    "rebalanced_sources": _rebalanced,
    "doc_keywords_top3": _keywords,
    "rag_chunks_32_8": _rag_chunks,
    "hash_embed_16": _hash_embed,
    "bm25_topk10": _bm25,
    "bm25_indexed_topk10": _bm25_indexed,
    "hybrid_rrf_topk10": _hybrid,
    "lm_quality_buckets": _lm_buckets,
    "repeated_windows_removed": _remove_repeated,
    "semdedup_keep03": _semdedup,
    "shard_assign_8": _shard_assign,
    "dedup_keep_best": _keep_best,
    "corpus_report_cube": _corpus_report,
    "vocab_top20": _vocab,
    "classifier_scores": _classifier,
    "winnow_fps": _winnow,
    "source_overlap_kmv": _src_overlap,
    "incremental_neardup": _incremental_neardup,
    "bpe_merges_8": _bpe,
    "bpe_encode_8": _bpe_encode,
    "bpe_token_ids_8": _bpe_token_ids,
    "nb_lang_pred": _nb_classify,
    "dsir_en_weights": _dsir,
    "blocklist_screen": _blocklist,
    "c4_line_clean": _c4_clean,
    "url_canonical_dedupe": _url_dedupe,
    "lexical_diversity": _lexdiv,
    "mojibake_fixed": _mojibake,
    "web_curation": _web_curation,
    "nfc_normalized": _nfc_normalized,
    "link_graph_edges": _link_graph,
    "domain_authority": _domain_authority,
    "anchor_texts_top3": _anchor_texts,
    "pagerank_101": _pagerank_101,
    "robots_flags": _robots_flags,
    "canonical_consolidated": _canonical_consolidated,
    "page_metadata": _page_metadata,
    "script_mix": _script_mix,
    "domain_report": _domain_report,
    "robots_verdicts": _robots_verdicts,
    "sitemap_entries": _sitemap_entries,
    "crawl_schedule": _crawl_schedule,
    "url_frontier_new": _url_frontier,
    "host_template_clean": _host_template_clean,
    "url_features": _url_features,
    "soft404_flags": _soft404,
    "frontier_ranked": _frontier_ranked,
    "media_context": _media_context,
    "interleave_stats": _interleave_stats,
    "section_rollup": _section_rollup,
    "recrawl_latest": _recrawl_latest,
    "media_frequency": _media_frequency,
    "template_media_clean": _template_media_clean,
    "multimodal_shards_8": _multimodal_shards,
    "caption_pairs": _caption_pairs,
    "media_jaccard_pairs": _media_jaccard,
    "multimodal_chunks_256": _multimodal_chunks,
    "curate_interleaved": _curate_interleaved,
    "media_headers": _media_headers,
    "media_meta_gated": _media_meta_gated,
    "media_report_synth": _media_report_synth,
    "subtitle_cues_synth": _synth_srt_cues,
    "transcript_stats_synth": _transcript_stats_synth,
    "image_dhash_synth": _image_dhash_synth,
    "image_neardup_synth": _image_neardup_synth,
    "audio_features_synth": _audio_features_synth,
}

_SPARE_ORACLES: dict[str, str] = {
    "q6_forecast_revenue": _Q6_SQL,
    "q14_promo_revenue": _Q14_SQL,
    "lsh_ann_topk": _lsh_index_ann_sql(),
    "line_dedupe_clean": _LINE_DEDUPE_SQL,
    "pii_redacted": _PII_SQL,
    "repeated_window_frac": _REPEATED_WINDOWS_SQL,
    "pack_sequences_512": _PACK_SQL,
    "cap_per_source": _CAP_SQL,
    "embeddings_quantized": _QUANTIZE_SQL,
    "decontaminated_docs": _DECONTAM_SQL,
    "rebalanced_sources": _REBALANCE_SQL,
    "doc_keywords_top3": _KEYWORDS_SQL,
    "rag_chunks_32_8": _RAG_CHUNKS_SQL,
    "hash_embed_16": _HASH_EMBED_SQL,
    "bm25_topk10": _bm25_sql(_BM25_QUERY),
    "bm25_indexed_topk10": _bm25_sql(_BM25_QUERY),
    "hybrid_rrf_topk10": _hybrid_sql(_BM25_QUERY),
    "lm_quality_buckets": _LM_BUCKETS_SQL,
    "repeated_windows_removed": _REMOVE_REPEATED_SQL,
    "semdedup_keep03": _semdedup_sql(),
    "shard_assign_8": _SHARD_SQL,
    "dedup_keep_best": _keep_best_sql(),
    "corpus_report_cube": _CORPUS_REPORT_SQL,
    "vocab_top20": _VOCAB_SQL,
    "classifier_scores": _CLASSIFIER_SQL,
    "winnow_fps": _WINNOW_SQL,
    "source_overlap_kmv": _SRC_OVERLAP_SQL,
    "incremental_neardup": _INCREMENTAL_NEARDUP_SQL,
    "bpe_merges_8": _bpe_sql(8),
    "bpe_encode_8": _bpe_encode_sql(8),
    "bpe_token_ids_8": _bpe_token_ids_sql(8),
    "nb_lang_pred": _NB_CLASSIFY_SQL,
    "dsir_en_weights": _DSIR_SQL,
    "blocklist_screen": _BLOCKLIST_SQL,
    "c4_line_clean": _C4_CLEAN_SQL,
    "url_canonical_dedupe": _url_dedupe_sql(),
    "lexical_diversity": _LEXDIV_SQL,
    "mojibake_fixed": _mojibake_sql(),
    "web_curation": _web_curation_sql(),
    "nfc_normalized": _NFC_SQL,
    "link_graph_edges": _link_graph_sql(),
    "domain_authority": _domain_authority_sql(),
    "anchor_texts_top3": _anchor_texts_sql(),
    "pagerank_101": _pagerank_sql(),
    "robots_flags": _robots_flags_sql(),
    "canonical_consolidated": _canonical_consolidated_sql(),
    "page_metadata": _page_metadata_sql(),
    "script_mix": _script_mix_sql(),
    "domain_report": _domain_report_sql(),
    "robots_verdicts": _robots_verdicts_sql(),
    "sitemap_entries": _sitemap_entries_sql(),
    "crawl_schedule": _crawl_schedule_sql(),
    "url_frontier_new": _URL_FRONTIER_SQL,
    "host_template_clean": _HOST_TEMPLATE_SQL,
    "url_features": _url_features_sql(),
    "soft404_flags": _soft404_sql(),
    "frontier_ranked": _frontier_ranked_sql(),
    "media_context": _MEDIA_CONTEXT_SQL,
    "interleave_stats": _INTERLEAVE_STATS_SQL,
    "section_rollup": _SECTION_ROLLUP_SQL,
    "recrawl_latest": _RECRAWL_SQL,
    "media_frequency": _MEDIA_FREQUENCY_SQL,
    "template_media_clean": _TEMPLATE_MEDIA_SQL,
    "multimodal_shards_8": _MULTIMODAL_SHARDS_SQL,
    "caption_pairs": _CAPTION_PAIRS_SQL,
    "media_jaccard_pairs": _MEDIA_JACCARD_SQL,
    "multimodal_chunks_256": _MULTIMODAL_CHUNKS_SQL,
    "curate_interleaved": _CURATE_INTERLEAVED_SQL,
    "media_headers": _MEDIA_HEADERS_SQL,
    "media_meta_gated": _MEDIA_META_GATED_SQL,
    "media_report_synth": _MEDIA_REPORT_SQL,
    "subtitle_cues_synth": _SRT_CUES_SQL,
    "transcript_stats_synth": _TRANSCRIPT_STATS_SQL,
    "image_dhash_synth": _IMAGE_DHASH_SQL,
    "image_neardup_synth": _IMAGE_NEARDUP_SQL,
    "audio_features_synth": _AUDIO_FEATURES_SQL,
}


def spare_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_SPARE_QUERIES)


def spare_oracle_sql() -> dict[str, str]:
    return dict(_SPARE_ORACLES)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
