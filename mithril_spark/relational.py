"""Relational / training-data-pipeline query library over the driver testdata.

Each entry pairs a Spark DataFrame plan with an equivalent DuckDB oracle SQL
string (the driver's correctness gate). Design rules that keep the two
engines value-hash-identical:

* money aggregates go through DECIMAL(18,2) so sums are exact and
  order-independent, then ROUND(.,2)::DOUBLE at the end;
* float embeddings are quantized to int64 (round(x*1000)) before dot
  products — integer sums are order-independent, unlike double sums;
* every LIMIT has a total deterministic sort key;
* all hashing between engines uses md5 hex (identical in Spark and DuckDB).

Plans are written for 100 TB shapes: aggregations are partial+final by
construction, small dimensions are broadcast, self-joins for near-dup
detection are pre-filtered by shared-shingle blocking rather than a cross
join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# spark.sql.files.openCostInBytes default: Spark pads every scanned file
# by this many bytes when it sizes and packs file splits.
_SCAN_OPEN_COST = 4 << 20


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + round-robin repartition to the session's parallelism.

    For the heavy per-row scans only: ``_shingles``, ``_simhash_sketches``
    and ``_quantized(wide=True)``. The token-count doc queries read with
    ``_t``; an interleaved sf0.1 A/B showed the repartition won them nothing.

    The documents/embeddings parquet files are a few MB compressed, so the
    default 128 MB split size gives 1-2 scan tasks — but these scans
    explode each row 50-100x (shingles, band rows) and run heavy per-row
    work (md5, 120 vote sums, numpy matmuls) INSIDE that scan stage,
    pinning the whole pipeline to 2 of 32 cores (guide §2.5 input skew /
    §6 input split size). A keyless repartition of the tiny
    base table (a few MB shuffled once) unlocks full-core parallelism for
    the explode stage; every downstream aggregation here is
    order-independent, so results are unchanged on any partitioning.
    Scale-adaptive: at real file sizes the scan already yields >= cores
    splits and the repartition is skipped.

    The split count comes from the input files' sizes: Spark sizes splits
    at max(open cost, padded bytes / cores) capped by maxPartitionBytes,
    so the scan reaches ``cores`` splits once its padded bytes fill
    ``cores`` open-cost units. Reading it back from
    ``df.rdd.getNumPartitions()`` instead converts the plan to a Python
    RDD: 0.5-0.9 s in a fresh session on the sf0.1 documents table
    (4 vCPUs), against 0.01-0.2 s for the file listing.
    """
    import pyarrow.fs as pafs

    df = _t(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        fs, _ = pafs.FileSystem.from_uri(files[0])
        infos = fs.get_file_info(
            [pafs.FileSystem.from_uri(f)[1] for f in files])
        padded = sum(i.size + _SCAN_OPEN_COST for i in infos)
        if padded >= cores * _SCAN_OPEN_COST:
            return df
    return df.repartition(cores)


DEC = "decimal(18,2)"
DEC4 = "decimal(18,4)"

# --------------------------------------------------------------------------
# TPC-H-style relational core
# --------------------------------------------------------------------------

def q1_pricing_summary(spark, sf):
    l = _t(spark, sf, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast(DEC)), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast(DEC)), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast(DEC)
                    * (F.lit(1).cast(DEC4) - F.col("l_discount").cast(DEC4))
                ), 2,
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    l = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast(DEC)
                    * (F.lit(1).cast(DEC4) - F.col("l_discount").cast(DEC4))
                ), 2,
            ).cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier_volume(spark, sf):
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    l = _t(spark, sf, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast(DEC)
                    * (F.lit(1).cast(DEC4) - F.col("l_discount").cast(DEC4))
                ), 2,
            ).cast("double").alias("revenue")
        )
    )


Q5_SQL = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q6_forecast_revenue(spark, sf):
    l = _t(spark, sf, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC4)
                ), 2,
            ).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q6_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
"""


def q_top_customers(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    top = (
        o.groupBy("o_custkey")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 2).cast("double").alias("total_spent"),
            F.count("*").alias("n_orders"),
        )
    )
    return (
        top.join(F.broadcast(c), top.o_custkey == c.c_custkey)
        .select(
            F.col("c_custkey").alias("custkey"), "c_name", "total_spent", "n_orders"
        )
        .orderBy(F.desc("total_spent"), F.asc("custkey"))
        .limit(20)
    )


Q_TOP_CUSTOMERS_SQL = """
SELECT c_custkey AS custkey, c_name,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_spent,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, custkey ASC
LIMIT 20
"""


def q_priority_counts(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-07-01"))
            & (F.col("o_orderdate") < F.lit("1996-10-01"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


Q_PRIORITY_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
GROUP BY o_orderpriority
"""


def q_window_segment_top3(spark, sf):
    from pyspark.sql import Window

    c = _t(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal",
                F.col("rnk").cast("long").alias("rnk"))
    )


Q_WINDOW_SQL = """
SELECT c_mktsegment, c_custkey, c_acctbal, rnk FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
  FROM customer
) WHERE rnk <= 3
"""

# --------------------------------------------------------------------------
# Event stream analytics (batch shape of the streaming operators)
# --------------------------------------------------------------------------

def q_events_hourly(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("total_value"),
        )
    )


Q_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def q_events_sessionize(spark, sf):
    """30-minute-gap sessionization per user (batch form of the stateful op)."""
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = e.withColumn(
        "new_session",
        (
            F.col("ts").cast("timestamp").cast("long")
            - F.lag(F.col("ts").cast("timestamp").cast("long"), 1, 0).over(w)
            > 1800
        ).cast("int"),
    )
    sess = with_gap.withColumn(
        "session_id", F.sum("new_session").over(w)
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


Q_EVENTS_SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - LAG(epoch(ts), 1, 0)
              OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM s GROUP BY user_id
"""

# --------------------------------------------------------------------------
# Text analysis / search parity over `documents`
# --------------------------------------------------------------------------

EN_STOP = (
    "the a an and or of to in is are was be for with on as at by it this that",
)
_EN_STOP_LIST = EN_STOP[0].split()
_EN_STOP_SQL = ", ".join(f"'{w}'" for w in _EN_STOP_LIST)


def _tokens(col):
    return F.split(F.lower(col), " ")


def q_doc_term_df(spark, sf):
    """Document frequency of the 50 most frequent terms (the term_dict op)."""
    d = _t(spark, sf, "documents")
    return (
        d.select("doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


Q_DOC_TERM_DF_SQL = """
SELECT term, COUNT(*) AS df FROM (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
) WHERE term <> ''
GROUP BY term ORDER BY df DESC, term ASC LIMIT 50
"""


def q_doc_search_tf(spark, sf):
    """Multi-term search scored by total term frequency (integer-exact)."""
    d = _t(spark, sf, "documents")
    terms = ["spark", "query", "join"]
    tok = d.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(terms))
    return (
        tok.groupBy("doc_id")
        .agg(F.count("*").alias("score"),
             F.countDistinct("term").alias("terms_matched"))
        .filter(F.col("terms_matched") == len(terms))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


Q_DOC_SEARCH_TF_SQL = """
SELECT doc_id, COUNT(*) AS score, COUNT(DISTINCT term) AS terms_matched FROM (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
) WHERE term IN ('spark', 'query', 'join')
GROUP BY doc_id HAVING COUNT(DISTINCT term) = 3
ORDER BY score DESC, doc_id ASC LIMIT 20
"""


def q_token_stats(spark, sf):
    """Token counting per source (the token-count pipeline op)."""
    d = _t(spark, sf, "documents")
    return (
        d.select(
            "source",
            F.size(_tokens(F.col("text"))).alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
    )


Q_TOKEN_STATS_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens,
       MAX(len(string_split(lower(text), ' '))) AS max_tokens
FROM documents GROUP BY source
"""


def q_text_quality(spark, sf):
    """Quality scoring: length + stopword-ratio filters (integer-ratio exact)."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id", "lang",
        F.explode(_tokens(F.col("text"))).alias("term"),
    )
    per_doc = toks.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("term").isin(_EN_STOP_LIST).cast("int")).alias("n_stop"),
    )
    return (
        per_doc.withColumn(
            "stop_ratio_pct",
            F.floor(F.col("n_stop") * 100 / F.col("n_tokens")),
        )
        .filter((F.col("n_tokens") >= 20) & (F.col("stop_ratio_pct") <= 60))
        .select("doc_id", "lang", "n_tokens", "n_stop", "stop_ratio_pct")
    )


Q_TEXT_QUALITY_SQL = f"""
SELECT doc_id, lang, n_tokens, n_stop,
       CAST(FLOOR((n_stop * 100) / n_tokens) AS BIGINT) AS stop_ratio_pct
FROM (
  SELECT doc_id, lang, COUNT(*) AS n_tokens,
         CAST(SUM(CASE WHEN term IN ({_EN_STOP_SQL}) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
  FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term
        FROM documents)
  GROUP BY doc_id, lang
)
WHERE n_tokens >= 20 AND FLOOR((n_stop * 100) / n_tokens) <= 60
"""


def q_lang_id(spark, sf):
    """Heuristic language ID by stopword hits; compare against labeled lang."""
    d = _t(spark, sf, "documents")
    toks = d.select("doc_id", "lang", F.explode(_tokens(F.col("text"))).alias("t"))
    scored = toks.groupBy("doc_id", "lang").agg(
        F.sum(F.col("t").isin(_EN_STOP_LIST).cast("int")).alias("en_hits"),
        F.count("*").alias("n"),
    )
    return scored.select(
        "doc_id", "lang",
        F.when(F.col("en_hits") * 10 >= F.col("n"), F.lit("en"))
        .otherwise(F.lit("other")).alias("pred_lang"),
    )


Q_LANG_ID_SQL = f"""
SELECT doc_id, lang,
       CASE WHEN en_hits * 10 >= n THEN 'en' ELSE 'other' END AS pred_lang
FROM (
  SELECT doc_id, lang,
         CAST(SUM(CASE WHEN t IN ({_EN_STOP_SQL}) THEN 1 ELSE 0 END) AS BIGINT) AS en_hits,
         COUNT(*) AS n
  FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS t FROM documents)
  GROUP BY doc_id, lang
)
"""

_BM25_TERMS = ("spark", "query", "join")


def q_doc_bm25_topk(spark, sf):
    """BM25 top-20 over `documents` for a fixed 3-term query (k1=1.2,
    b=0.75, clamp 6 -> /6, the reference formula, BM25.cpp:36-99).

    Cross-engine exactness: every per-row float op is written in the SAME
    textual order as the oracle SQL (IEEE ops are deterministic
    elementwise); the only transcendental, ln(idf), runs through libm on
    both sides (python math.log here, DuckDB ln there), and the emitted
    score is quantized to 1e-6 so an off-by-ulp could not flip the hash.
    """
    import math

    d = _t(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
    per = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[F.sum((F.col("t") == term).cast("long")).alias(f"tf{i}")
          for i, term in enumerate(_BM25_TERMS)],
    )
    st = per.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tdl"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
          for i in range(len(_BM25_TERMS))],
    ).collect()[0]
    n = int(st["n"])
    avgdl = int(st["tdl"]) / n  # exact-int division, identical both engines
    norm = 0.25 + 0.75 * (F.col("dl") / F.lit(avgdl))
    contribs = []
    for i in range(len(_BM25_TERMS)):
        df = int(st[f"df{i}"])
        idf = math.log((n - df + 0.5) / (df + 0.5))  # libm, like DuckDB ln
        tfc = F.col(f"tf{i}") / norm
        s = F.least(F.lit(idf) * (tfc * 2.2) / (tfc + 1.2), F.lit(6.0)) / 6.0
        contribs.append(F.when(F.col(f"tf{i}") > 0, s).otherwise(F.lit(0.0)))
    score = contribs[0] + contribs[1] + contribs[2]  # fixed summation order
    return (
        per.withColumn("score_q", F.round(score * 1e6).cast("long"))
        .filter((F.col("tf0") > 0) | (F.col("tf1") > 0) | (F.col("tf2") > 0))
        .orderBy(F.desc("score_q"), F.asc("doc_id"))
        .select("doc_id", "dl", "tf0", "tf1", "tf2", "score_q")
        .limit(20)
    )


def _bm25_sql() -> str:
    tf_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN t = '{term}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i}"
        for i, term in enumerate(_BM25_TERMS))
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS)))
    contribs = []
    for i in range(len(_BM25_TERMS)):
        idf = f"ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5))"
        tfc = f"(p.tf{i} / (0.25 + 0.75 * (p.dl / (CAST(s.tdl AS DOUBLE) / s.n))))"
        contribs.append(
            f"CASE WHEN p.tf{i} > 0 THEN "
            f"LEAST({idf} * ({tfc} * 2.2) / ({tfc} + 1.2), 6.0) / 6.0 "
            f"ELSE 0.0 END"
        )
    return f"""
WITH per AS (
  SELECT doc_id, COUNT(*) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
  GROUP BY doc_id
),
s AS (SELECT COUNT(*) AS n, SUM(dl) AS tdl, {df_cols} FROM per)
SELECT p.doc_id, p.dl, p.tf0, p.tf1, p.tf2,
       CAST(round(({contribs[0]} + {contribs[1]} + {contribs[2]}) * 1e6) AS BIGINT) AS score_q
FROM per p, s
WHERE p.tf0 > 0 OR p.tf1 > 0 OR p.tf2 > 0
ORDER BY score_q DESC, p.doc_id ASC
LIMIT 20
"""


Q_DOC_BM25_SQL = _bm25_sql()


# --------------------------------------------------------------------------
# Deduplication suite over `documents`
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf):
    """Exact dedup: md5 grouping; emits (text_hash, dup_count) for dup groups."""
    d = _t(spark, sf, "documents")
    return (
        d.select(F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("dup_count"), )
        .filter(F.col("dup_count") > 1)
    )


Q_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, COUNT(*) AS dup_count
FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
"""


def _shingles(spark, sf, k=3):
    """Distinct word k-gram shingles per doc (md5'd), as a reusable block.

    md5 runs AFTER the distinct on the raw k-gram (identical output set —
    md5 is injective on these inputs — but ~10x fewer hash calls), and the
    k-gram is built from element_at lookups instead of array slices (no
    per-position array allocation)."""
    d = _t_wide(spark, sf, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    raw = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - k),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("toks", (i + 1 + j).cast("int"))
                           for j in range(k)]
                ),
            )
        ).alias("raw"),
    ).distinct()
    return raw.select("doc_id", F.md5("raw").alias("shingle"))


_SHINGLES_SQL = """
  SELECT DISTINCT doc_id,
         md5(array_to_string(toks[i+1:i+3], ' ')) AS shingle
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
       LATERAL (SELECT unnest(range(0, len(toks) - 2)) AS i)
"""


_QUERY_CACHES: list = []


def _query_cache(df):
    """cache() scoped to "until the next cached entry runs": entering a
    cached query first unpersists whatever an earlier entry pinned, so a
    session running many entries (the 28-query driver pass) holds ONE
    entry's working set in executor storage instead of accumulating one
    per dedup query forever (code-review r5). The returned plan must be
    consumed before another cached entry starts — true for the driver
    (collects each entry fully) and the test gate."""
    while _QUERY_CACHES:
        try:
            _QUERY_CACHES.pop().unpersist()
        except Exception:
            pass
    _QUERY_CACHES.append(df.cache())
    return df


JACCARD_SHINGLE_DF_CAP = 1000


def q_dedup_jaccard(spark, sf):
    """Word-3-gram Jaccard near-dup pairs (>= 0.8), hot-shingle-capped.

    r01 VERDICT #7: candidate generation self-joins only shingles with
    df <= 1000 — a ubiquitous shingle would otherwise produce a quadratic
    bucket. Verification recounts the TRUE intersection over all shingles,
    so (inter, uni) stay exact. Recall bound: a pair is missed only if
    every one of its shared shingles is hot; a jaccard >= 0.8 pair shares
    >= 0.8/1.8 * (|A|+|B|) of its shingles, so a miss requires the whole
    overlap to be corpus-wide boilerplate — such pairs surface via exact /
    minhash dedup instead. The oracle SQL applies the identical cap.
    """
    sh = _query_cache(_shingles(spark, sf))
    hot = (
        sh.groupBy("shingle").agg(F.count("*").alias("df"))
        .filter(F.col("df") > JACCARD_SHINGLE_DF_CAP)
        .select("shingle")
    )
    # the hot list is tiny by construction (each entry burned >CAP rows)
    rare = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = rare.alias("a")
    b = rare.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(cand, sh, 8, 10)


Q_DEDUP_JACCARD_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
hot AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING COUNT(*) > {JACCARD_SHINGLE_DF_CAP}
),
rare AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.inter, (sa.sz + sb.sz - i.inter) AS uni
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter * 10 >= (sa.sz + sb.sz - i.inter) * 8
"""


N_MINHASH = 16
LSH_BANDS = 4  # 4 rows per band

# Affine minhash family over a 28-bit md5 truncation: h_i(x) = (a*x+b) mod P.
# P = 2^31-1 (prime); products stay < 2^59, exact int64 in Spark AND DuckDB.
_MH_P = 2147483647
_MH_A = [769_12_341 + 2_654_435_761 * i % 1_000_003_519 for i in range(N_MINHASH)]
_MH_B = [97 + 40_503 * i for i in range(N_MINHASH)]


def _verify_jaccard(cand, sh, t_num: int, t_den: int, prefilter: bool = False):
    """Exact jaccard verification of candidate pairs (threshold t_num/t_den).

    One groupBy packs each doc's distinct shingles into a sorted array;
    the tiny candidate table then joins against it twice (AQE broadcasts
    the candidate side — the shingle table never reshuffles per side) and
    the intersection is computed with array_intersect. Values identical to
    the row-level count, with one shuffle instead of three.

    prefilter=True (r06, guide §2.3 "shuffle fewer bytes"): materialize the
    candidate pairs once (localCheckpoint — they are a few thousand rows)
    and semi-join the shingle table down to docs that actually appear in a
    pair BEFORE the collect_list shuffle. At sf1.0 minhash has 2.6 M
    shingle rows but only ~5 k candidate docs, so the per-doc array build
    was 95% wasted work (verify 4.8 s -> sub-second). Values unchanged:
    the join against cand discarded non-candidate docs anyway. Off for
    callers whose candidate set may span most docs (q_dedup_jaccard).
    """
    if prefilter:
        cand = cand.localCheckpoint()
        need = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sh = sh.join(F.broadcast(need), "doc_id", "leftsemi")
    doc_arr = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("arr"),
        F.count("*").alias("sz"),
    )
    aa = doc_arr.select(F.col("doc_id").alias("doc_a"),
                        F.col("arr").alias("arr_a"), F.col("sz").alias("sz_a"))
    bb = doc_arr.select(F.col("doc_id").alias("doc_b"),
                        F.col("arr").alias("arr_b"), F.col("sz").alias("sz_b"))
    return (
        cand.join(aa, "doc_a").join(bb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("arr_a", "arr_b")).cast("long"))
        .withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .filter(F.col("inter") * t_den >= F.col("uni") * t_num)
        .select("doc_a", "doc_b", "inter", "uni")
    )


def q_dedup_minhash_lsh(spark, sf):
    """MinHash(16) + LSH(4 bands x 4 rows) candidate pairs, Jaccard-verified >= 0.5.

    All hashing is md5-based so Spark and the SQL oracle agree bit-for-bit.
    At scale the band join is the standard shingle->minhash->band->bucket-join
    pipeline; candidates per band bucket only.
    """
    sh = _query_cache(_shingles(spark, sf))
    # Single-pass signatures: ONE md5 per shingle (31-bit truncation) fanned
    # into 16 affine permutations h_i = (a_i*x + b_i) mod (2^31-1) — exact
    # int64 arithmetic both engines can reproduce (products < 2^62, so no
    # overflow divergence) — then one groupBy(doc_id) computing all 16 mins
    # as columns. No 16x explode, no 16 md5 calls (r01 plan audit: the
    # explode multiplied the shingle table x16 and md5 dominated CPU).
    x = F.conv(F.substring(F.md5(F.col("shingle")), 1, 7), 16, 10).cast("long")
    hashed = sh.select("doc_id", x.alias("x"))
    sig = hashed.groupBy("doc_id").agg(*[
        F.min((F.lit(_MH_A[i]) * F.col("x") + F.lit(_MH_B[i])) % F.lit(_MH_P))
        .alias(f"mh{i}")
        for i in range(N_MINHASH)
    ])
    # band_hash stays md5 of the sorted "h=minhash" strings, matching the
    # oracle byte for byte
    rows_per_band = N_MINHASH // LSH_BANDS
    band_structs = []
    for b in range(LSH_BANDS):
        elems = [
            F.concat(F.lit(f"{h}="), F.col(f"mh{h}").cast("string"))
            for h in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", F.array_sort(F.array(*elems)))).alias("band_hash"),
        ))
    band_sig = (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"),
                F.col("bb.band_hash").alias("band_hash"))
    )
    # one groupBy-bucket + pairwise expansion instead of a band_sig
    # self-join: the join would evaluate the md5+16-min signature subtree
    # once per side (exchange reuse does not deduplicate it) — see
    # _simhash_candidates
    cand = (
        band_sig.groupBy("band", "band_hash")
        .agg(F.collect_list("doc_id").alias("ds"))
        .select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    # verify candidates with true jaccard >= 0.5 (prefilter: the band
    # buckets yield ~n/10000 candidate docs, so the verify join only needs
    # that sliver of the shingle table)
    return _verify_jaccard(cand, sh, 1, 2, prefilter=True)


def _minhash_band_sql() -> str:
    """band_sig CTE body mirroring the Spark affine-minhash plan exactly."""
    mh_cols = ",\n         ".join(
        f"MIN(({_MH_A[i]} * x + {_MH_B[i]}) % {_MH_P}) AS mh{i}"
        for i in range(N_MINHASH)
    )
    rpb = N_MINHASH // LSH_BANDS
    bands = []
    for b in range(LSH_BANDS):
        elems = ", ".join(
            f"'{h}=' || CAST(mh{h} AS VARCHAR)"
            for h in range(b * rpb, (b + 1) * rpb)
        )
        bands.append(
            f"  SELECT doc_id, {b} AS band,\n"
            f"         md5(array_to_string(list_sort([{elems}]), ',')) AS band_hash\n"
            f"  FROM sig"
        )
    return (
        "hashed AS (\n"
        "  SELECT doc_id,\n"
        "         CAST(concat('0x', substr(md5(shingle), 1, 7)) AS BIGINT) AS x\n"
        "  FROM sh\n"
        "),\n"
        f"sig AS (SELECT doc_id,\n         {mh_cols}\n"
        "  FROM hashed GROUP BY doc_id),\n"
        "band_sig AS (\n" + "\n  UNION ALL\n".join(bands) + "\n)"
    )


Q_DEDUP_MINHASH_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
{_minhash_band_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band_sig a JOIN band_sig b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.inter, (sa.sz + sb.sz - i.inter) AS uni
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter * 2 >= (sa.sz + sb.sz - i.inter)
"""


def q_dedup_simhash(spark, sf):
    """120-bit SimHash near-dup pairs (hamming distance <= 8).

    r01 VERDICT #4 redesign for scale:
    * sketch widened from 60 to 120 bits — two int64 halves from md5 hex
      chars 1-15 / 16-30 (60 bits each, exact in both engines);
    * per-bit majority votes are 120 conditional-SUM columns in ONE
      groupBy(doc_id) with map-side partial aggregation — the previous plan
      exploded 60 rows per token before combining;
    * pigeonhole banding: 9 disjoint bands (4 x 15 bits on half 1,
      5 x 12 bits on half 2); <= 8 differing bits leave >= 1 band identical,
      and the smallest band now has 4096 values (vs 128), so the candidate
      join is O(n^2/4096) worst case instead of /128.
    """
    return _simhash_candidates(_simhash_sketches(spark, sf), max_hamming=8)


def _simhash_sketches(spark, sf):
    """(doc_id, sim1, sim2) 120-bit sketches for every document."""
    d = _t_wide(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
    # md5 computed ONCE per token (projection boundary forces CSE), then
    # split into the two 60-bit halves
    hashed = toks.select("doc_id", F.md5("t").alias("m")).select(
        "doc_id",
        F.conv(F.substring("m", 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("m", 16, 15), 16, 10).cast("long").alias("h2"),
    )
    aggs = [F.count("*").alias("n")]
    for half in (1, 2):
        for b in range(60):
            aggs.append(
                F.sum(
                    F.shiftright(F.col(f"h{half}"), b).bitwiseAND(F.lit(1))
                ).alias(f"c{half}_{b}")
            )
    votes = hashed.groupBy("doc_id").agg(*aggs)

    def _sim(half):
        # bit set iff vote sum(+-1) > 0  <=>  2 * ones_count > n_tokens
        expr = F.lit(0).cast("long")
        for b in range(60):
            expr = expr + F.when(
                F.col(f"c{half}_{b}") * 2 > F.col("n"), F.lit(1 << b)
            ).otherwise(F.lit(0).cast("long"))
        return expr

    return votes.select("doc_id", _sim(1).alias("sim1"), _sim(2).alias("sim2"))


def _simhash_candidates(sim, max_hamming: int | None = None):
    """Banded candidate pairs from (doc_id, sim1, sim2) sketches — split out
    so the sub-quadratic candidate-count property is directly testable.

    Shaped as ONE groupBy(band, band_val) + pairwise expansion rather than
    a bands-to-bands self-join: the self-join evaluates the expensive
    sketch subtree (120 conditional sums per token row) once PER SIDE —
    Spark's exchange reuse does not deduplicate it — so bucketing computes
    the sketches exactly once. The pair count per bucket is B*(B-1)/2
    either way; each bucket row carries only (doc_id, sim1, sim2)
    triples, 24 bytes per member. With ``max_hamming`` the hamming
    computation + filter are folded in BEFORE the distinct (exactly what
    Catalyst's filter pushdown did for the caller-side filter, stated
    explicitly), so the distinct only sees surviving pairs.

    r06 notes — two numpy variants were built, measured SLOWER at sf1.0,
    and rejected (don't re-try):
    * all-buckets applyInPandas popcount: 16-19 s vs 5.6 s — 24k pandas
      groups x per-group overhead dominates (embedding wins with the
      same shape because it has only 64 large buckets);
    * HYBRID (JVM explode for <64-member buckets + numpy XOR/LUT
      popcount for the 1,144 big ones carrying 388M of 391M pairs):
      20-23 s — the (chunk x n) XOR outer product + uint16 LUT gathers
      move ~25 GB of temp arrays and this box saturates memory
      bandwidth at ~16 cores, while the JVM explode+bit_count streams
      the same pairs register-resident through whole-stage codegen at
      ~100M pairs/s. The explode shape is the right engine here."""
    band_structs = []
    for i in range(4):  # half 1: 4 bands x 15 bits
        band_structs.append(F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("sim1"), i * 15).bitwiseAND(F.lit(32767)).alias("band_val"),
        ))
    for j in range(5):  # half 2: 5 bands x 12 bits
        band_structs.append(F.struct(
            F.lit(4 + j).alias("band"),
            F.shiftright(F.col("sim2"), j * 12).bitwiseAND(F.lit(4095)).alias("band_val"),
        ))
    bands = (
        sim.select("doc_id", "sim1", "sim2",
                   F.explode(F.array(*band_structs)).alias("bb"))
        .select("doc_id", "sim1", "sim2",
                F.col("bb.band").alias("band"), F.col("bb.band_val").alias("band_val"))
    )
    buckets = bands.groupBy("band", "band_val").agg(
        F.collect_list(F.struct("doc_id", "sim1", "sim2")).alias("ds")
    )
    pairs = (
        buckets.select(F.explode("ds").alias("a"), "ds")
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if max_hamming is None:
        return pairs.select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.sim1").alias("s1a"), F.col("a.sim2").alias("s2a"),
            F.col("b.sim1").alias("s1b"), F.col("b.sim2").alias("s2b"),
        ).distinct()
    hamming = (
        F.bit_count(F.col("a.sim1").bitwiseXOR(F.col("b.sim1")))
        + F.bit_count(F.col("a.sim2").bitwiseXOR(F.col("b.sim2")))
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


Q_DEDUP_SIMHASH_SQL = """
WITH hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h1,
         CAST(concat('0x', substr(md5(t), 16, 15)) AS BIGINT) AS h2
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
),
bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h1 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v1,
         SUM(CASE WHEN (h2 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v2
  FROM hashed, LATERAL (SELECT unnest(range(0, 60)) AS b)
  GROUP BY doc_id, b
),
sim AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v1 > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sim1,
         CAST(SUM(CASE WHEN v2 > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sim2
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, sim1, sim2, band,
         CASE WHEN band < 4 THEN (sim1 >> (band * 15)) & 32767
              ELSE (sim2 >> ((band - 4) * 12)) & 4095 END AS band_val
  FROM sim, LATERAL (SELECT unnest(range(0, 9)) AS band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sim1 AS s1a, a.sim2 AS s2a, b.sim1 AS s1b, b.sim2 AS s2b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(s1a, s1b)) + bit_count(xor(s2a, s2b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(s1a, s1b)) + bit_count(xor(s2a, s2b)) <= 8
"""

# Embedding-cosine near-dup: deterministic random-hyperplane LSH blocking
# + exact integer verification (the last dedup family from the brief).
_EMB_BITS = 16
_EMB_BANDS = 4  # 4 bits per band
_EMB_T2 = 16    # cos >= sqrt(T2/100) = 0.4 (chosen non-vacuous on testdata)


# The hyperplane-weight formula
#   w(i, j) = (1103515245 * (i*97 + j*31 + 7)) % 65536 - 32768
# exists in exactly TWO places that must stay identical: the Spark
# column lambda in q_dedup_embedding below and the DuckDB SQL in
# _emb_sql (a scalar helper cannot be shared into Column math, so the
# twin-copy is deliberate — edit both or the oracle gate catches it).


def q_dedup_embedding(spark, sf):
    """Embedding near-dup pairs: hyperplane-LSH candidates, exact verify.

    Sign bits come from integer dot products against DETERMINISTIC integer
    hyperplanes (no RNG — both engines recompute them bit-for-bit), banded
    4x4 bits so candidates join on (band, band_val) buckets; verification
    is the exact integer test dot>0 AND 100*dot^2 >= T2*|a|^2*|b|^2
    (cos >= 0.4) on the 1e3-quantized vectors — order-independent, no
    doubles. Recall is the standard SRP-LSH curve: ~99% at cos 0.95, lower
    near the threshold (a pair is reported iff it shares >= 1 band AND
    verifies — deterministic semantics both engines reproduce exactly).

    r06 execution rewrite (values unchanged, oracle SQL untouched): with
    4-bit bands there are at most 4x16 buckets, so the candidate set is a
    constant fraction of all pairs BY DEFINITION of the query. The old
    plan exploded every candidate pair into Spark rows (a single-task
    collect_list bucket explode after AQE coalesced the 64-row bucket
    table to one partition) and re-fetched both 64-long arrays per pair
    through two joins, evaluating interpreted 64-element lambda
    aggregates per row — 324 s at sf1.0. Now each bucket's members go to
    one applyInPandas group that verifies the whole bucket with a chunked
    int64 numpy matmul (exact: int64 two's-complement matches Java long
    arithmetic bit-for-bit, including any overflow wraparound) and emits
    ONLY the surviving pairs; candidate pairs never materialize as rows.
    The signature bits use the same affine weight formula in numpy int64
    (the operands are non-negative, so Python floor-mod == Java trunc-mod).
    """
    import numpy as np
    import pandas as pd

    bpb = _EMB_BITS // _EMB_BANDS
    n_bits, n_bands, t2 = _EMB_BITS, _EMB_BANDS, _EMB_T2
    q = _quantized(spark, sf, wide=True).select("vec_id", "q")

    def band_rows(pdf_iter):
        weights = {}
        pw = 1 << np.arange(bpb, dtype=np.int64)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            # group by vector length: handles (hypothetical) ragged input
            # without an object-dtype fallback; one group in practice
            lens = pdf["q"].map(len).to_numpy()
            for d in np.unique(lens):
                sub = pdf[lens == d]
                Q = np.array(sub["q"].tolist(), dtype=np.int64)
                if d not in weights:
                    i = np.arange(d, dtype=np.int64)[:, None]
                    j = np.arange(n_bits, dtype=np.int64)[None, :]
                    weights[d] = (
                        1103515245 * (i * 97 + j * 31 + 7)) % 65536 - 32768
                S = (Q @ weights[d]) >= 0  # (n, bits) sign bits
                for b in range(n_bands):
                    bv = S[:, b * bpb:(b + 1) * bpb].astype(np.int64) @ pw
                    yield pd.DataFrame({
                        "vec_id": sub["vec_id"].to_numpy(),
                        "band": np.full(len(sub), b, dtype=np.int32),
                        "band_val": bv,
                        "q": sub["q"],
                    })

    bands = q.mapInPandas(
        band_rows, "vec_id long, band int, band_val long, q array<long>")

    out_schema = "vec_a long, vec_b long, dot long, norm_a long, norm_b long"
    empty = {
        "vec_a": np.empty(0, np.int64), "vec_b": np.empty(0, np.int64),
        "dot": np.empty(0, np.int64), "norm_a": np.empty(0, np.int64),
        "norm_b": np.empty(0, np.int64),
    }

    def verify_bucket(pdf):
        if len(pdf) < 2:
            return pd.DataFrame(empty)
        cols = {k: [] for k in empty}
        # a cross-length pair's zip_with dot is NULL in the expression form
        # (zip_with null-pads), so it never passes dot > 0: verifying each
        # length class independently is value-identical
        all_lens = pdf["q"].map(len).to_numpy()
        for d in np.unique(all_lens):
            sub = pdf[all_lens == d]
            n = len(sub)
            if n < 2:
                continue
            order = np.argsort(sub["vec_id"].to_numpy(), kind="stable")
            ids = sub["vec_id"].to_numpy()[order]
            Q = np.array(sub["q"].to_numpy()[order].tolist(), dtype=np.int64)
            norms = np.einsum("ij,ij->i", Q, Q)
            # float64 BLAS is ~7x faster than numpy's int64 matmul and is
            # EXACT whenever every partial sum is an integer below 2^53
            # (|dot| <= dim * max|q|^2; quantized unit-ish vectors are
            # ~5e2 per element, bound ~2e7); fall back to int64 when the
            # data could exceed that
            amax = int(np.abs(Q).max(initial=0))
            use_blas = int(d) * amax * amax < (1 << 53)  # python ints: no overflow
            Qf = Q.astype(np.float64) if use_blas else None
            # chunk rows so the (chunk x n) Gram block stays ~32 MB
            chunk = max(128, min(4096, (1 << 22) // n))
            with np.errstate(over="ignore"):
                for i0 in range(0, n, chunk):
                    i1 = min(i0 + chunk, n)
                    if use_blas:
                        G = (Qf[i0:i1] @ Qf.T).astype(np.int64)
                    else:
                        G = Q[i0:i1] @ Q.T  # exact int64 dots
                    ok = (np.arange(n)[None, :]
                          > np.arange(i0, i1)[:, None]) \
                        & (G > 0) \
                        & (100 * G * G
                           >= t2 * norms[i0:i1, None] * norms[None, :])
                    ii, jj = np.nonzero(ok)
                    cols["vec_a"].append(ids[ii + i0])
                    cols["vec_b"].append(ids[jj])
                    cols["dot"].append(G[ii, jj])
                    cols["norm_a"].append(norms[ii + i0])
                    cols["norm_b"].append(norms[jj])
        return pd.DataFrame(
            {k: np.concatenate(v) if v else empty[k] for k, v in cols.items()})

    return (
        bands.groupBy("band", "band_val")
        .applyInPandas(verify_bucket, out_schema)
        .distinct()
    )


def _emb_sql() -> str:
    sig_cols = []
    for j in range(_EMB_BITS):
        expr = (f"list_sum(list_transform(range(1, len(qv) + 1), "
                f"i -> qv[i] * ((1103515245 * ((i - 1) * 97 + {j * 31 + 7})) "
                f"% 65536 - 32768)))")
        sig_cols.append(f"CASE WHEN {expr} >= 0 THEN 1 ELSE 0 END AS s{j}")
    bpb = _EMB_BITS // _EMB_BANDS
    band_rows = []
    for b in range(_EMB_BANDS):
        val = " + ".join(f"s{b * bpb + k} * {1 << k}" for k in range(bpb))
        band_rows.append(f"  SELECT vec_id, {b} AS band, {val} AS band_val FROM sig")
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
sig AS (SELECT vec_id, {", ".join(sig_cols)} FROM q),
bands AS (
{chr(10).join(r + (" UNION ALL" if i < len(band_rows) - 1 else "") for i, r in enumerate(band_rows))}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
),
norms AS (
  SELECT vec_id, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
  FROM q
)
SELECT c.vec_a, c.vec_b,
       CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                     i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot,
       na.nrm AS norm_a, nb.nrm AS norm_b
FROM cand c
JOIN q a ON a.vec_id = c.vec_a
JOIN q b ON b.vec_id = c.vec_b
JOIN norms na ON na.vec_id = c.vec_a
JOIN norms nb ON nb.vec_id = c.vec_b
WHERE CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                    i -> a.qv[i] * b.qv[i])) AS BIGINT) > 0
  AND 100 * CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                          i -> a.qv[i] * b.qv[i])) AS BIGINT)
          * CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                          i -> a.qv[i] * b.qv[i])) AS BIGINT)
      >= {_EMB_T2} * na.nrm * nb.nrm
"""


Q_DEDUP_EMBEDDING_SQL = _emb_sql()


# --------------------------------------------------------------------------
# Similarity search over `embeddings`
# --------------------------------------------------------------------------

def _quantized(spark, sf, wide=False):
    e = (_t_wide if wide else _t)(spark, sf, "embeddings")
    return e.select(
        "vec_id", "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ).alias("q"),
    )


def q_ann_cosine_topk(spark, sf):
    """Brute-force top-10 nearest to vec_id 0 by quantized dot product.

    Quantization (round(x*1000) -> int64) makes the reduction exact and
    order-independent — the same result on any partitioning, unlike a
    double-precision sum.

    r06 note: a numpy mapInPandas dot (like the dedup rewrites) was
    tried and measured SLOWER (1.4 s vs 1.1 s at sf1.0) — shipping both
    64-long arrays per row across the Arrow boundary costs more than
    the interpreted aggregate/zip_with lambda saves at this dot count.
    Kept the expression form.
    """
    q = _quantized(spark, sf)
    target = q.filter(F.col("vec_id") == 0).select(
        F.col("q").alias("tq")
    )
    return (
        q.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(target))
        .withColumn(
            "dot",
            F.aggregate(
                F.zip_with(F.col("q"), F.col("tq"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .orderBy(F.desc("dot"), F.asc("vec_id"))
        .select("vec_id", "label", "dot")
        .limit(10)
    )


Q_ANN_COSINE_SQL = """
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
target AS (SELECT qv AS tq FROM q WHERE vec_id = 0)
SELECT vec_id, label,
       CAST(list_sum(list_transform(range(1, len(qv) + 1),
                     i -> qv[i] * tq[i])) AS BIGINT) AS dot
FROM q, target
WHERE vec_id <> 0
ORDER BY dot DESC, vec_id ASC
LIMIT 10
"""


def q_ann_ivf(spark, sf):
    """IVF-style ANN: 8 centroid vectors (vec_id 0..7), assign every vector
    to its best centroid, then report cluster sizes + per-cluster best match.
    This is the scale path: the assignment join is broadcast (centroids are
    tiny) and search probes only one cluster."""
    q = _quantized(spark, sf)
    cents = q.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("q").alias("cq")
    )
    assigned = (
        q.filter(F.col("vec_id") >= 8)
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "dot",
            F.aggregate(
                F.zip_with(F.col("q"), F.col("cq"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    # per-vector argmax via max_by: shuffle-equal to the Window variant but
    # map-side combinable (partial aggregation), no row_number sort
    # (VERDICT r02 anti-pattern #5)
    best = (
        assigned.groupBy("vec_id")
        .agg(F.max_by(
            F.struct(F.col("cent_id"), F.col("dot")),
            F.struct(F.col("dot"), (-F.col("cent_id")).alias("nc")),
        ).alias("b"))
        .select(F.col("b.cent_id").alias("cent_id"), F.col("b.dot").alias("dot"))
    )
    return (
        best.groupBy("cent_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.max("dot").alias("best_dot"),
        )
    )


Q_ANN_IVF_SQL = """
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, qv AS cq FROM q WHERE vec_id < 8),
assigned AS (
  SELECT q.vec_id, c.cent_id,
         CAST(list_sum(list_transform(range(1, len(qv) + 1),
                       i -> qv[i] * cq[i])) AS BIGINT) AS dot
  FROM q, cents c WHERE q.vec_id >= 8
),
best AS (
  SELECT vec_id, cent_id, dot,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cent_id ASC) AS rn
  FROM assigned
)
SELECT cent_id, COUNT(*) AS cluster_size, CAST(MAX(dot) AS BIGINT) AS best_dot
FROM best WHERE rn = 1 GROUP BY cent_id
"""


def q_ann_ivf_probe(spark, sf):
    """Multi-probe IVF search with one Lloyd refinement step.

    Seed centroids (vec_id 0..7) assign every vector; centroids are then
    refined to the element-wise floor-mean of their members (integer-exact:
    int64 sums, and floor(s/n) in double is exact below 2^53), vectors are
    re-assigned, the 2 centroids nearest the query vector (vec_id 9) are
    probed, and the exact quantized-dot top-5 within the probed clusters is
    returned. 100 TB shape: centroids are always broadcast (8 rows); the
    only wide shuffles are the two map-side-combinable max_by assignments
    and the (cent_id, pos) partial-sum for refinement.
    """
    q = _quantized(spark, sf)
    data = q.filter(F.col("vec_id") >= 8).select("vec_id", "q")
    cents0 = q.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("q").alias("cq")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def assign(cents):
        return (
            data.crossJoin(F.broadcast(cents))
            .withColumn("dot", dot("q", "cq"))
            .groupBy("vec_id")
            .agg(F.max_by(
                F.struct(F.col("cent_id"), F.col("q")),
                F.struct(F.col("dot"), (-F.col("cent_id")).alias("nc")),
            ).alias("b"))
            .select(
                "vec_id",
                F.col("b.cent_id").alias("cent_id"),
                F.col("b.q").alias("q"),
            )
        )

    # one Lloyd step over the seed assignment
    refined = (
        assign(cents0)
        .select("cent_id", F.posexplode("q").alias("pos", "v"))
        .groupBy("cent_id", "pos")
        .agg(F.floor(F.sum("v") / F.count("*")).cast("long").alias("cv"))
        .groupBy("cent_id")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))),
            lambda s: s["cv"],
        ).alias("cq"))
    )
    qvec = q.filter(F.col("vec_id") == 9).select(F.col("q").alias("qq"))
    probe = (
        refined.crossJoin(F.broadcast(qvec))
        .withColumn("cscore", dot("cq", "qq"))
        .orderBy(F.desc("cscore"), F.asc("cent_id"))
        .limit(2)
        .select("cent_id")
    )
    return (
        assign(refined)
        .join(F.broadcast(probe), "cent_id")
        .filter(F.col("vec_id") != 9)
        .crossJoin(F.broadcast(qvec))
        .withColumn("dot_q", dot("q", "qq"))
        .orderBy(F.desc("dot_q"), F.asc("vec_id"))
        .select("vec_id", "dot_q")
        .limit(5)
    )


Q_ANN_IVF_PROBE_SQL = """
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
cents0 AS (SELECT vec_id AS cent_id, qv AS cq FROM q WHERE vec_id < 8),
data AS (SELECT vec_id, qv FROM q WHERE vec_id >= 8),
a0 AS (
  SELECT vec_id, cent_id, qv,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cent_id ASC) AS rn
  FROM (
    SELECT d.vec_id, c.cent_id, d.qv,
           CAST(list_sum(list_transform(range(1, len(d.qv) + 1),
                         i -> d.qv[i] * c.cq[i])) AS BIGINT) AS dot
    FROM data d, cents0 c
  )
),
expl AS (
  SELECT cent_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v
  FROM a0 WHERE rn = 1
),
refined_elems AS (
  SELECT cent_id, pos,
         CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
  FROM expl GROUP BY cent_id, pos
),
refined AS (
  SELECT cent_id, list(cv ORDER BY pos) AS cq FROM refined_elems GROUP BY cent_id
),
qvec AS (SELECT qv AS qq FROM q WHERE vec_id = 9),
probe AS (
  SELECT cent_id FROM (
    SELECT r.cent_id,
           CAST(list_sum(list_transform(range(1, len(r.cq) + 1),
                         i -> r.cq[i] * qq[i])) AS BIGINT) AS cscore
    FROM refined r, qvec
  )
  ORDER BY cscore DESC, cent_id ASC LIMIT 2
),
a1 AS (
  SELECT vec_id, cent_id, qv,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cent_id ASC) AS rn
  FROM (
    SELECT d.vec_id, r.cent_id, d.qv,
           CAST(list_sum(list_transform(range(1, len(d.qv) + 1),
                         i -> d.qv[i] * r.cq[i])) AS BIGINT) AS dot
    FROM data d, refined r
  )
)
SELECT m.vec_id,
       CAST(list_sum(list_transform(range(1, len(m.qv) + 1),
                     i -> m.qv[i] * qq[i])) AS BIGINT) AS dot_q
FROM a1 m JOIN probe p USING (cent_id), qvec
WHERE m.rn = 1 AND m.vec_id <> 9
ORDER BY dot_q DESC, vec_id ASC LIMIT 5
"""


# --------------------------------------------------------------------------
# Formerly rows-only entries, now fully oracled (VERDICT r04 #3):
# q_stream_sessionize's output provably equals the batch sessionization
# (stream≡batch gate, tests/test_pipeline_ops.py), so it reuses that SQL
# with its column names; the media queries pin their seeded-deterministic
# relations as literal VALUES (media_oracle_sql.py).
# --------------------------------------------------------------------------


def q_stream_sessionize(spark, sf):
    """Stateful streaming sessionization over the events table, run to
    completion with ``availableNow`` — the CORRECTNESS surface for the
    ``applyInPandasWithState`` operator path. One availableNow batch emits
    one (user_id, session_id, n_events) row per user where session_id is
    the 30-min-gap session count — exactly the batch twin
    ``q_events_sessionize``'s relation (gate:
    tests/test_pipeline_ops.py stream≡batch equality), so its SQL oracle
    is that query's SQL with ``n_sessions`` renamed."""
    import hashlib
    import os
    import tempfile

    from .streaming import stream_sessionize

    path = os.path.join(sf, "events.parquet")
    schema = spark.read.parquet(path).schema
    # the file stream source needs a DIRECTORY; expose the single parquet
    # file through a temp dir of symlinks (no data copy)
    src_dir = tempfile.mkdtemp(prefix="mithril_stream_src_")
    os.symlink(path, os.path.join(src_dir, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(src_dir)
    ck = tempfile.mkdtemp(prefix="mithril_stream_ck_")
    name = "mithril_sess_" + hashlib.md5(ck.encode()).hexdigest()[:10]
    q = (
        stream_sessionize(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    if not q.awaitTermination(300):
        # a partial memory table would surface as a value mismatch
        # against the oracle — fail loudly as what it is (code-review r5)
        q.stop()
        raise TimeoutError("availableNow stream did not drain within 300s")
    return spark.table(name).orderBy("user_id", "session_id")


def q_winnow_near_dups(spark, sf):
    """Winnowing-fingerprint near-dup pairs (Schleimer et al., SIGMOD'03):
    char-16-gram md5 hashes, window-4 minima over full windows (min of
    all grams for docs shorter than one window), distinct fingerprints
    per doc, pairs sharing >= 8. Entirely JVM-side (explode + window +
    self-join — no Python in the plan) with an SQL-checkable hash; the
    library twin (pipeline_ops.fingerprint_documents) keeps token-5-gram
    blake2b hashes — same algorithm, pytest-gated. 100 TB shape: the
    shuffle carries (doc_id, i, 32-byte hash) rows, the pair join is
    fingerprint-blocked (never all-pairs), and skewed fingerprints are
    AQE-handled like the other dedup families."""
    from pyspark.sql import Window

    K, W, SHARED = 16, 4, 8
    base = (
        _t(spark, sf, "documents").select("doc_id", "text")
        .filter(F.length("text") >= K)
        .select("doc_id", "text",
                (F.length("text") - F.lit(K - 1)).alias("ng"))
    )
    g = (
        base.select(
            "doc_id", "ng", "text",
            F.explode(F.expr("sequence(1, ng)")).alias("i"),
        )
        .select("doc_id", "ng", "i",
                F.md5(F.expr(f"substring(text, i, {K})")).alias("h"))
    )
    win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, W - 1)
    fps_full = (
        g.withColumn("mh", F.min("h").over(win))
        .filter((F.col("ng") >= W) & (F.col("i") <= F.col("ng") - (W - 1)))
        .select("doc_id", F.col("mh").alias("fp"))
        .distinct()
    )
    fps_small = (
        g.filter(F.col("ng") < W)
        .groupBy("doc_id").agg(F.min("h").alias("fp"))
    )
    fps = fps_full.unionByName(fps_small)
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= SHARED)
    )


Q_WINNOW_SQL = """
WITH base AS (
  SELECT doc_id, text, length(text) - 16 + 1 AS ng
  FROM documents WHERE length(text) >= 16
), g AS (
  SELECT doc_id, ng, unnest(range(1, ng + 1)) AS i, text FROM base
), h AS (
  SELECT doc_id, ng, i, md5(substr(text, CAST(i AS INTEGER), 16)) AS h FROM g
), wins AS (
  SELECT doc_id, ng, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
  FROM h
), fps AS (
  SELECT DISTINCT doc_id, mh AS fp FROM wins WHERE ng >= 4 AND i <= ng - 3
  UNION
  SELECT doc_id, min(h) AS fp FROM h WHERE ng < 4 GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 8
"""


def q_stream_events_hourly(spark, sf):
    """Watermarked tumbling-window STREAMING aggregation over the events
    table, run to completion with ``availableNow`` — the CORRECTNESS
    surface for the watermark/window operator path
    (streaming.stream_events_windowed is the library op; this entry uses
    DECIMAL-exact sums so the result is addition-order-independent and
    oracle-comparable). One availableNow batch means the first batch's
    watermark has not advanced yet, so no window is dropped and update
    mode emits every (window, event_type) group exactly once with final
    values — provably the batch hourly relation, whose SQL
    (Q_EVENTS_HOURLY_SQL) is therefore the oracle."""
    import hashlib
    import os
    import tempfile

    path = os.path.join(sf, "events.parquet")
    schema = spark.read.parquet(path).schema
    src_dir = tempfile.mkdtemp(prefix="mithril_stream_src2_")
    os.symlink(path, os.path.join(src_dir, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(src_dir)
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 2)
            .cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("hour"), "event_type",
                "n_events", "total_value")
    )
    ck = tempfile.mkdtemp(prefix="mithril_stream_ck2_")
    name = "mithril_evh_" + hashlib.md5(ck.encode()).hexdigest()[:10]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("availableNow stream did not drain within 300s")
    return spark.table(name).orderBy("hour", "event_type")


Q_STREAM_SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - LAG(epoch(ts), 1, 0)
              OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS session_id,
       COUNT(*) AS n_events
FROM s GROUP BY user_id
"""


def q_media_features(spark, sf):
    """Multimodal decode + feature extraction over the deterministic
    synthetic media table (real P6/WAV/Y4M decoders, Arrow-batched).
    Python decoders have no computed SQL twin; the oracle is the pinned
    literal-VALUES relation (media_oracle_sql.py — sound because the
    media table is seeded-deterministic and the decoders are
    pixel/sample-exact-gated in tests/test_pipeline_ops.py).

    The library API (`extract_media_features`) keeps the feature as
    ``array<float>``; the driver's canonicalizer cannot hash list cells,
    so this registered entry projects it to scalar columns: the dimension
    plus an md5 fingerprint of the vector quantized to 6 decimals."""
    from .pipeline_ops import extract_media_features, synthetic_media_df

    feats = extract_media_features(synthetic_media_df(spark, 60))
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "sha256",
        "decode_ok",
        F.size("feature").alias("feature_dim"),
        F.md5(
            F.concat_ws(
                ",", F.transform("feature", lambda x: F.format_string("%.6f", x))
            )
        ).alias("feature_q"),
    ).orderBy("media_id")


def q_media_frames(spark, sf):
    """Per-frame video sampling (Y4M decode at the frame_sample_plan
    timestamps). The library API (``sample_frames``) keeps float32 pixel
    statistics; this registered entry quantizes them to 6-decimal doubles
    so the driver's canonicalizer and the literal-VALUES DuckDB oracle
    (media_oracle_sql.py) compare them exactly."""
    from .pipeline_ops import sample_frames, synthetic_media_df

    df = sample_frames(synthetic_media_df(spark, 60))
    return df.select(
        "media_id", "sample_ms", "frame_idx",
        *[F.round(F.col(c).cast("double"), 6).alias(c)
          for c in ("y_mean", "y_std", "u_mean", "v_mean")],
        "decode_ok",
    ).orderBy("media_id", "sample_ms")


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_local_supplier_volume": (q5_local_supplier_volume, Q5_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_SQL),
    "q_top_customers": (q_top_customers, Q_TOP_CUSTOMERS_SQL),
    "q_priority_counts": (q_priority_counts, Q_PRIORITY_SQL),
    "q_window_segment_top3": (q_window_segment_top3, Q_WINDOW_SQL),
    "q_events_hourly": (q_events_hourly, Q_EVENTS_HOURLY_SQL),
    "q_events_sessionize": (q_events_sessionize, Q_EVENTS_SESSIONIZE_SQL),
    "q_doc_term_df": (q_doc_term_df, Q_DOC_TERM_DF_SQL),
    "q_doc_search_tf": (q_doc_search_tf, Q_DOC_SEARCH_TF_SQL),
    "q_doc_bm25_topk": (q_doc_bm25_topk, Q_DOC_BM25_SQL),
    "q_token_stats": (q_token_stats, Q_TOKEN_STATS_SQL),
    "q_text_quality": (q_text_quality, Q_TEXT_QUALITY_SQL),
    "q_lang_id": (q_lang_id, Q_LANG_ID_SQL),
    "q_dedup_exact": (q_dedup_exact, Q_DEDUP_EXACT_SQL),
    "q_dedup_jaccard": (q_dedup_jaccard, Q_DEDUP_JACCARD_SQL),
    "q_dedup_minhash_lsh": (q_dedup_minhash_lsh, Q_DEDUP_MINHASH_SQL),
    "q_dedup_simhash": (q_dedup_simhash, Q_DEDUP_SIMHASH_SQL),
    "q_dedup_embedding": (q_dedup_embedding, Q_DEDUP_EMBEDDING_SQL),
    "q_winnow_near_dups": (q_winnow_near_dups, Q_WINNOW_SQL),
    "q_ann_cosine_topk": (q_ann_cosine_topk, Q_ANN_COSINE_SQL),
    "q_ann_ivf": (q_ann_ivf, Q_ANN_IVF_SQL),
    "q_ann_ivf_probe": (q_ann_ivf_probe, Q_ANN_IVF_PROBE_SQL),
    "q_stream_sessionize": (q_stream_sessionize, Q_STREAM_SESSIONIZE_SQL),
    "q_stream_events_hourly": (q_stream_events_hourly, Q_EVENTS_HOURLY_SQL),
    "q_media_features": (q_media_features, None),  # bound below
    "q_media_frames": (q_media_frames, None),      # bound below
}

# literal-VALUES oracles for the seeded-deterministic media relations
# (generated: scripts/gen_media_oracle.py; rationale in its docstring)
from .media_oracle_sql import (  # noqa: E402
    Q_MEDIA_FEATURES_SQL,
    Q_MEDIA_FRAMES_SQL,
)

QUERIES["q_media_features"] = (q_media_features, Q_MEDIA_FEATURES_SQL)
QUERIES["q_media_frames"] = (q_media_frames, Q_MEDIA_FRAMES_SQL)
