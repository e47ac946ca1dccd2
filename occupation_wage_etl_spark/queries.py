"""Query registry: every operator from SURVEY.md §2 + the training-data
extension operators, as (PySpark builder, DuckDB oracle SQL) pairs.

Cross-engine determinism rules (validated in tests/test_oracle_parity.py):

- **Averages/sums of 2-decimal data** use the exact-decimal trick:
  ``CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`` — decimal sums are
  order-independent and exact, the double conversion is exact below 2^53,
  and double division by a count is IEEE-identical in both engines.  No
  rounding needed, bit-exact results.
- **Ratios of integers** (Jaccard, token ratios) are single IEEE double
  divisions of identical integers — bit-exact unrounded.
- **Hashes** are md5 (bit-identical hex in Spark/DuckDB/Python); MinHash
  = lexicographic min over md5s, LSH buckets = md5 of joined slots.
- **Oversized decimal sums** (scaled integer > 2^53, e.g. q49's moment
  sums) cast to double VIA STRING on both sides: a decimal's string is
  its exact digits and string→double is correctly rounded in both
  engines, while DuckDB's direct decimal→double double-rounds
  (int128 then /10^scale) where Java rounds once.
- **Statistical aggregates** (stddev/var/corr/covar) never use the
  builtin float accumulators — they derive from exact decimal moment
  sums + identical closed-form scalar trees, so results are bit-stable
  across engines AND file layouts / partition orders (q49).
- **Multi-term float sums** (BM25, PQ ADC) pivot to one conditional-agg
  column per term and add in a fixed order — never a float fold over
  rows in shuffle order.
- **Rounding is avoided** except where a float fold could differ in
  ULPs (cosine similarity, multi-term score sums) — there we round at
  6dp (Spark round is decimal-correct, DuckDB's is float-based; they
  agree except within ~1e-13 of a .xxxxxx5 boundary, which naturally
  occurring folds essentially never hit).  Conversely, values that ARE
  bit-equal from identical trees are left UNROUNDED — rounding would
  reintroduce divergence at tie boundaries.
- **Approximate operators** (MinHash, SimHash, hyperplane LSH, IVF, PQ,
  the hashed-linear classifier) use md5-seeded deterministic
  constructions so DuckDB replays their funnels exactly; swapping in
  trained/learned parameters changes only a broadcast literal table.
- Ordered/limited queries always carry a unique tiebreaker key.

Naming rule: a query is a module-level builder ``qNN_name(spark, sf_dir)``
plus one module constant ``QNN_SQL`` (same NN, zero padding included)
holding its oracle.  ``SPARK_QUERIES`` and ``ORACLE_SQL`` are derived
from these names at the end of the module, ordered by NN — there is no
list to edit, a builder without its ``QNN_SQL`` fails the import, and
no helper may be named ``qNN_*``.  An oracle that reuses another's SQL
interpolates that query's constant rather than re-running its builder.

Reference-parity queries (q01–q11) cite SURVEY.md §2 operator ids.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from occupation_wage_etl_spark.operators._cache import cached
from occupation_wage_etl_spark.operators._rows import flat_map

from occupation_wage_etl_spark.functions import cleaning
from occupation_wage_etl_spark.sources import html_table
from occupation_wage_etl_spark.sources import lake
from occupation_wage_etl_spark.functions import pii
from occupation_wage_etl_spark.functions import similarity as S
from occupation_wage_etl_spark.functions import text as T
from occupation_wage_etl_spark.operators import (
    asof_join,
    audio,
    cdc,
    chunking,
    curation,
    decontaminate,
    dedup,
    encoding,
    evaluation,
    fuzzy_join,
    graph,
    hypothesis,
    multimodal,
    prefix_join,
    preference,
    profile,
    range_join,
    recommend,
    retrieval,
    similarity,
    sketch,
    skew,
    splits,
    stats,
    text_analysis,
    h264,
    timeseries,
    topk,
    video,
    vocab,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) —
        # Spark infers TIMESTAMP_NTZ. Cast to the session (UTC-pinned)
        # instant type so downstream event-time ops and the DuckDB oracle
        # (naive timestamps) see identical wall-clock values.
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col: F.Column) -> F.Column:
    """Order-independent exact sum of 2-decimal data, as double."""
    return F.sum(col.cast("decimal(18,2)")).cast("double")


def _davg(col: F.Column) -> F.Column:
    """Exact mean: decimal sum (exact) / count — bit-identical in DuckDB."""
    return _dsum(col) / F.count(col)


_DSUM = "CAST(sum(CAST({x} AS DECIMAL(18,2))) AS DOUBLE)"
_DAVG = _DSUM + " / count({x})"


# ---------------------------------------------------------------------------
# q01 — pricing summary: scan S5 + filter P5-style + group-agg A1/A2
# (TPC-H-Q1-shaped; SURVEY §2.4)
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _davg(F.col("l_quantity")).alias("avg_qty"),
            _davg(F.col("l_extendedprice")).alias("avg_price"),
            _davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_DSUM.format(x='l_quantity')} AS sum_qty,
       {_DSUM.format(x='l_extendedprice')} AS sum_base_price,
       {_DAVG.format(x='l_quantity')} AS avg_qty,
       {_DAVG.format(x='l_extendedprice')} AS avg_price,
       {_DAVG.format(x='l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q02 — flagship: broadcast join J1 + grouped mean A2 + top-k O1
# (the reference's notebook query shape, SURVEY §3.3)
# ---------------------------------------------------------------------------

def q02_top_parts_by_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    agg = joined.groupBy("p_name").agg(
        _davg(F.col("l_extendedprice")).alias("avg_price"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )
    return topk.top_k(agg, [F.desc("avg_price"), F.asc("p_name")], 10)


Q02_SQL = f"""
SELECT p_name,
       {_DAVG.format(x='l_extendedprice')} AS avg_price,
       count(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_name
ORDER BY avg_price DESC, p_name
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q03 — derived-key broadcast dimension join (J1 exact analog: the SOC-prefix
# join views.sql:18-27 with split_part F6)
# ---------------------------------------------------------------------------

def q03_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    key = F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(1))
    dim = (
        orders.groupBy(key.alias("prio_code"))
        .agg(
            F.count(F.lit(1)).alias("n_orders_in_prio"),
            _davg(F.col("o_totalprice")).alias("avg_prio_price"),
        )
    )
    joined = prefix_join.derived_key_broadcast_join(
        orders, dim, key, "prio_code", derived_name="o_prio_code"
    )
    return joined.select(
        "o_orderkey", "o_orderpriority", "o_prio_code",
        "n_orders_in_prio", "avg_prio_price",
    )


Q03_SQL = f"""
WITH dim AS (
  SELECT split_part(o_orderpriority, '-', 1) AS prio_code,
         count(*) AS n_orders_in_prio,
         {_DAVG.format(x='o_totalprice')} AS avg_prio_price
  FROM orders GROUP BY 1
)
SELECT o_orderkey, o_orderpriority,
       split_part(o_orderpriority, '-', 1) AS o_prio_code,
       n_orders_in_prio, avg_prio_price
FROM orders JOIN dim ON split_part(o_orderpriority, '-', 1) = dim.prio_code
"""


# ---------------------------------------------------------------------------
# q04 — grouped multi-aggregate over a derived key (A1 analog,
# views.sql:3-14)
# ---------------------------------------------------------------------------

def q04_avg_by_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    key = F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(1))
    return (
        orders.groupBy(key.alias("prio_code"))
        .agg(
            _davg(F.col("o_totalprice")).alias("mean_totalprice"),
            F.min("o_totalprice").alias("min_totalprice"),
            F.max("o_totalprice").alias("max_totalprice"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


Q04_SQL = f"""
SELECT split_part(o_orderpriority, '-', 1) AS prio_code,
       {_DAVG.format(x='o_totalprice')} AS mean_totalprice,
       min(o_totalprice) AS min_totalprice,
       max(o_totalprice) AS max_totalprice,
       count(*) AS n_orders
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q05 — the cleaning grammar F1–F4 (suppressed markers, footnote prefixes,
# currency strip, null-on-error cast) exercised end-to-end on synthesized
# dirty cells (FIXTURES.md §1 grammar, reference load_data.py:112-132)
# ---------------------------------------------------------------------------

def q05_cleaning_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dirty = (
        F.when(
            F.col("l_orderkey") % 13 == 0,
            F.concat(F.lit("("), (F.col("l_suppkey") % 9).cast("string"), F.lit(")-")),
        )
        .when(
            F.col("l_orderkey") % 5 == 0,
            # decimal(12,2)->string renders identically in Spark and DuckDB
            # (double->string shortest-repr rules differ between engines)
            F.concat(
                F.lit("()$"),
                F.col("l_extendedprice").cast("decimal(12,2)").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("("), (F.col("l_suppkey") % 4).cast("string"), F.lit(")$"),
                F.col("l_extendedprice").cast("decimal(12,2)").cast("string"),
            )
        )
    )
    cleaned = cleaning.to_double(dirty)
    return (
        li.select(F.col("l_returnflag"), cleaned.alias("v"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_suppressed"),
            _dsum(F.col("v")).alias("sum_cleaned"),
            _davg(F.col("v")).alias("avg_cleaned"),
        )
    )


Q05_SQL = f"""
WITH dirty AS (
  SELECT l_returnflag,
         CASE WHEN l_orderkey % 13 = 0
                THEN '(' || CAST(l_suppkey % 9 AS VARCHAR) || ')-'
              WHEN l_orderkey % 5 = 0
                THEN '()$' || CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR)
              ELSE '(' || CAST(l_suppkey % 4 AS VARCHAR) || ')$'
                   || CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR)
         END AS cell
  FROM lineitem
), cleaned AS (
  SELECT l_returnflag,
         TRY_CAST(
           replace(replace(
             regexp_replace(
               CASE WHEN regexp_matches(cell, '^\\(\\d+\\)-$') THEN NULL ELSE cell END,
               '^\\([^)]*\\)', ''),
             '$', ''), ',', '')
           AS DOUBLE) AS v
  FROM dirty
)
SELECT l_returnflag,
       count(*) AS n_rows,
       -- BIGINT cast: DuckDB sum(int) is HUGEINT (Arrow decimal128), which
       -- the driver's canonicalizer renders differently from Spark's int64
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed,
       {_DSUM.format(x='v')} AS sum_cleaned,
       {_DAVG.format(x='v')} AS avg_cleaned
FROM cleaned GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q06 — MM/YYYY month parse F5 (reference load_data.py:231) with
# null-on-malformed, grouped counts
# ---------------------------------------------------------------------------

def q06_month_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    mm = F.when(
        F.col("o_orderkey") % 11 == 0, F.lit("13/2099")  # malformed → NULL
    ).otherwise(F.date_format("o_orderdate", "MM/yyyy"))
    return (
        orders.select(cleaning.parse_month_year(mm).alias("order_month"))
        .groupBy("order_month")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


Q06_SQL = r"""
WITH raw AS (
  SELECT CASE WHEN o_orderkey % 11 = 0 THEN '13/2099'
              ELSE strftime(o_orderdate, '%m/%Y') END AS mm
  FROM orders
)
SELECT CASE WHEN regexp_matches(mm, '^(0[1-9]|1[0-2])/\d{4}$')
            THEN CAST(strptime(mm, '%m/%Y') AS DATE) END AS order_month,
       count(*) AS n_orders
FROM raw GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q07 — filter + projection (P4/P5 shapes; predicate & column pushdown
# reach the parquet scan — verified via explain in tests)
# ---------------------------------------------------------------------------

def q07_filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


Q07_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_quantity > 45
"""


# ---------------------------------------------------------------------------
# q08 — per-group top-k via window (O1 generalized; SURVEY §2.6)
# ---------------------------------------------------------------------------

def q08_top3_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    ranked = topk.top_k_per_group(
        orders,
        ["o_orderpriority"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    )
    return ranked.select(
        "o_orderpriority", "o_orderkey", "o_totalprice",
        F.col("rank").cast("int").alias("rank"),
    )


Q08_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# q09 — set operation: customers with no orders (EXCEPT)
# ---------------------------------------------------------------------------

def q09_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no URGENT order.  (The synthetic
    data gives every customer at least one order, so the plain
    no-orders-at-all variant returned 0 rows — a vacuous check; the
    priority predicate makes the anti-join observable.)"""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust["c_custkey"] == urgent["o_custkey"], "left_anti"
    )


Q09_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""


# ---------------------------------------------------------------------------
# q10 — batch sessionization (lag + running-sum; streaming/events.py has
# the session_window streaming twin)
# ---------------------------------------------------------------------------

SESSION_GAP = "12 hours"


def q10_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    boundary = F.when(
        F.col("ts") > F.lag("ts").over(w) + F.expr(f"INTERVAL {SESSION_GAP}"), 1
    ).otherwise(0)
    sess = ev.withColumn("__b", F.coalesce(boundary, F.lit(0))).withColumn(
        "__sid", F.sum("__b").over(w)
    )
    return sess.groupBy("user_id", "__sid").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("__sid")


Q10_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
), b AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts > lag(ts) OVER w + INTERVAL 12 HOUR THEN 1 ELSE 0 END AS nb
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(nb) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM b
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# q11 — tumbling-window aggregation (streaming twin in streaming/events.py)
# ---------------------------------------------------------------------------

def q11_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )


Q11_SQL = f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
       count(*) AS n_events,
       {_DSUM.format(x='value')} AS total_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q12 — exact-dedup statistics (md5 content fingerprint; dedup funnel tier 1)
# ---------------------------------------------------------------------------

_NORM_SQL = "trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"


def q12_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", T.fingerprint(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
        )
    )


Q12_SQL = f"""
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5({_NORM_SQL.format(x='text')})) AS n_unique
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# q13 — MinHash + banded LSH near-dup pairs, Jaccard-verified
# (portable md5 minhash — see functions/similarity.py docstring)
# ---------------------------------------------------------------------------

MINHASH_N, MINHASH_BANDS, SHINGLE_N, JACCARD_T = 16, 8, 3, 0.2


def q13_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs,
        shingle_n=SHINGLE_N,
        num_hashes=MINHASH_N,
        bands=MINHASH_BANDS,
        jaccard_threshold=JACCARD_T,
    )


def _minhash_oracle_sql() -> str:
    # Replays operators.dedup.minhash_lsh_pairs' arithmetic MinHash: one
    # md5 per shingle folded to 31 bits, then (a_i·h + b_i) mod P slots
    # with the exact literals minhash_perm_params embeds in the Spark plan.
    rpb = MINHASH_N // MINHASH_BANDS
    P = S.MINHASH_P
    perms = S.minhash_perm_params(MINHASH_N)
    slots = ",\n    ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P}))"
        for (a, b) in perms
    )
    band_fields = ", ".join(
        "{'band': %d, %s}"
        % (b, ", ".join(f"'k{r}': sig[{b * rpb + r + 1}]" for r in range(rpb)))
        for b in range(MINHASH_BANDS)
    )
    key_eq = " AND ".join(["l.b.band = r.b.band"] + [
        f"l.b.k{r} = r.b.k{r}" for r in range(rpb)
    ])
    norm = _NORM_SQL.format(x="text")
    return f"""
WITH d AS (
  SELECT doc_id AS id, string_split({norm}, ' ') AS toks FROM documents
), sh AS (
  SELECT id, list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_N - 1}, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_N - 1}), ' ')
         )) AS shingles
  FROM d
), hsh AS (
  SELECT id, shingles,
         list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 8))::BIGINT % {P}) AS hs
  FROM sh
), sig AS (
  SELECT id, shingles, [
    {slots}
  ] AS sig FROM hsh
), bk AS (
  SELECT id, unnest([{band_fields}]) AS b FROM sig
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM bk l JOIN bk r ON {key_eq} AND l.id < r.id
), verified AS (
  SELECT cand.id_a, cand.id_b,
         len(list_intersect(a.shingles, b.shingles)) * 1.0
           / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
  FROM cand JOIN sh a ON a.id = cand.id_a JOIN sh b ON b.id = cand.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {JACCARD_T}
"""


Q13_SQL = _minhash_oracle_sql()


# ---------------------------------------------------------------------------
# q14 — exact n-gram Jaccard near-dup pairs (blocked self-join)
# ---------------------------------------------------------------------------

def q14_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, ngram_n=SHINGLE_N, threshold=JACCARD_T, block_col="lang"
    )


Q14_SQL = f"""
WITH d AS (
  SELECT doc_id AS id, lang,
         string_split({_NORM_SQL.format(x='text')}, ' ') AS toks
  FROM documents
), g AS (
  SELECT id, lang, list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_N - 1}, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_N - 1}), ' ')
         )) AS grams
  FROM d
), pairs AS (
  SELECT l.id AS id_a, r.id AS id_b,
         len(list_intersect(l.grams, r.grams)) * 1.0
           / len(list_distinct(list_concat(l.grams, r.grams))) AS jaccard
  FROM g l JOIN g r ON l.lang = r.lang AND l.id < r.id
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {JACCARD_T}
"""


# ---------------------------------------------------------------------------
# q15 — brute-force cosine top-k over embeddings (similarity-search baseline)
# ---------------------------------------------------------------------------

KNN_QUERY_ID, KNN_K = 0, 10


def q15_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == KNN_QUERY_ID).select("embedding").first()
    return similarity.brute_force_knn(
        emb.filter(F.col("vec_id") != KNN_QUERY_ID),
        list(qrow["embedding"]),
        k=KNN_K,
    )


Q15_SQL = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {KNN_QUERY_ID}
), scored AS (
  SELECT e.vec_id,
         round(
           list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> e.embedding[i]::DOUBLE * q.qv[i]))
           / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
         6) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> {KNN_QUERY_ID}
)
SELECT vec_id, cosine FROM scored
ORDER BY cosine DESC, vec_id LIMIT {KNN_K}
"""


# ---------------------------------------------------------------------------
# q16 — token statistics per language (whitespace + BPE-ish regex counting)
# ---------------------------------------------------------------------------

def q16_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            T.token_count(F.col("text")).alias("tc"),
            T.regex_token_count(F.col("text")).alias("rtc"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tc").alias("total_tokens"),
            F.sum("rtc").alias("total_regex_tokens"),
            (F.sum("tc").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        )
    )


Q16_SQL = rf"""
WITH t AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc,
         len(regexp_extract_all(text, '{T.TOKEN_RE}')) AS rtc
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(tc) AS BIGINT) AS total_tokens,
       CAST(sum(rtc) AS BIGINT) AS total_regex_tokens,
       CAST(sum(tc) AS DOUBLE) / count(*) AS avg_tokens
FROM t GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q17 — document quality scoring (length band + punctuation + diversity)
# ---------------------------------------------------------------------------

def q17_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.quality_score(F.col("text")).alias("quality"),
    )


_NORM = _NORM_SQL.format(x="text")
Q17_SQL = rf"""
WITH m AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n,
         regexp_replace(text, '\s+', '', 'g') AS nonspace,
         string_split({_NORM}, ' ') AS toks
  FROM documents
), r AS (
  SELECT doc_id, n,
         CASE WHEN length(nonspace) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(nonspace, '[A-Za-z0-9]', '', 'g')) AS DOUBLE)
                   / CAST(length(nonspace) AS DOUBLE) END AS punct,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         END AS uniq
  FROM m
)
SELECT doc_id,
       round(0.4 * (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                         WHEN n < 100 THEN n / 100.0
                         ELSE 20000.0 / n END)
           + 0.3 * (1.0 - least(punct * 4, 1.0))
           + 0.3 * uniq, 6) AS quality
FROM r
"""


# ---------------------------------------------------------------------------
# q18 — heuristic language identification (stopword-hit argmax)
# ---------------------------------------------------------------------------

def q18_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.lang_id_table(docs)


def _lang_id_oracle_sql() -> str:
    hits = []
    for code in sorted(T.LANG_STOPWORDS):
        words = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[code])
        hits.append(
            f"len(list_filter(toks, x -> list_contains([{words}], x))) AS h_{code}"
        )
    codes = sorted(T.LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"h_{c}" for c in codes) + ")"
    nbest = " + ".join(f"CASE WHEN h_{c} = best THEN 1 ELSE 0 END" for c in codes)
    argmax = " ".join(f"WHEN h_{c} = best THEN '{c}'" for c in codes)
    hit_cols = ",\n         ".join(hits)
    return f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
), h AS (
  SELECT doc_id,
         {hit_cols}
  FROM t
), b AS (
  SELECT doc_id, h.*, {best} AS best FROM h
)
SELECT doc_id,
       CASE WHEN best = 0 THEN 'und'
            WHEN ({nbest}) > 1 THEN 'und'
            ELSE CASE {argmax} END
       END AS pred_lang
FROM b
"""


Q18_SQL = _lang_id_oracle_sql()


# ---------------------------------------------------------------------------
# q19 — document fingerprinting (portable md5 content hash)
# ---------------------------------------------------------------------------

def q19_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))


Q19_SQL = f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents"


# ---------------------------------------------------------------------------
# q20 — rolling-fingerprint overlap candidates (16-char windows)
# ---------------------------------------------------------------------------

ROLL_W = 16
ROLL_MAX_DF = 64  # boilerplate stop-fingerprint cap (see q20 docRemark)


def q20_rolling_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fps = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.array_distinct(T.rolling_fingerprints(F.col("text"), ROLL_W))
        ).alias("fp"),
    )
    # Stop-fingerprint cap (round-7 100x rehearsal finding): a window
    # shared by d documents emits d(d-1)/2 pairs, so BOILERPLATE
    # windows make the self-join quadratic — at 100x the uncapped tier
    # produced x40 edges / 40e9 wedges and ~70 GB of shuffle spill
    # before ENOSPC.  Windows with document frequency > ROLL_MAX_DF
    # are dropped (standard winnowing practice: such windows carry no
    # dedup signal, only template noise).  The cap NEVER binds at test
    # scale (max df 45 at sf0.1), so every oracle mirrors it with an
    # equivalent QUALIFY and results are unchanged; at corpus scale it
    # is the difference between linear and quadratic.  The window runs
    # on the same fp key the self-join shuffles on.
    wdf = Window.partitionBy("fp")
    fps = (
        fps.withColumn("__df", F.count(F.lit(1)).over(wdf))
        .filter(F.col("__df") <= ROLL_MAX_DF)
        .drop("__df")
    )
    l, r = fps.alias("l"), fps.alias("r")
    return (
        l.join(r, (F.col("l.fp") == F.col("r.fp")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


Q20_SQL = f"""
WITH n AS (
  SELECT doc_id AS id, {_NORM} AS s FROM documents
), w AS (
  SELECT id, list_distinct(list_transform(
           range(0, greatest(CAST(ceil(length(s) / {ROLL_W}.0) AS INTEGER), 1)),
           i -> md5(substr(s, i * {ROLL_W} + 1, {ROLL_W}))
         )) AS fps
  FROM n
), e AS (
  SELECT id, fp FROM (SELECT id, unnest(fps) AS fp FROM w)
  QUALIFY count(*) OVER (PARTITION BY fp) <= {ROLL_MAX_DF}
)
SELECT l.id AS id_a, r.id AS id_b, count(*) AS n_shared
FROM e l JOIN e r ON l.fp = r.fp AND l.id < r.id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q21 — embedding-cosine near-dup pairs, hyperplane-LSH banded (the 100 TB
# tier: explode band keys → equi-join → verify; no cross join anywhere).
# The brute-force all-pairs form (`embedding_near_dup_pairs` without a
# block) is kept as the recall oracle in tests/test_dedup.py only — as a
# registry query it would be a BroadcastNestedLoopJoin scale-killer.
# ---------------------------------------------------------------------------

COS_T = 0.4
EMB_DIM = 64  # fixed embedding dimension of the embeddings table (TESTDATA.md)


def q21_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs_banded(emb, dim=EMB_DIM, threshold=COS_T)


# Replays the banded funnel: hyperplane signatures (shared with Q23), 4×4-bit
# band-key candidate join, exact-cosine verification at the threshold.
Q21_SQL = f"""
WITH hp AS (
  SELECT p.p, d.d,
         ('0x' || substr(md5('owes:' || p.p || ':' || (d.d - 1)), 1, 8))::BIGINT
           / 4294967295.0 * 2.0 - 1.0 AS w
  FROM range(0, 16) p(p), range(1, 65) d(d)
), dots AS (
  SELECT e.vec_id, h.p, sum(e.embedding[h.d]::DOUBLE * h.w) AS dot
  FROM embeddings e, hp h
  GROUP BY 1, 2
), sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0
                       THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS s
  FROM dots GROUP BY 1
), banded AS (
  SELECT vec_id AS id, b.band, (s >> (b.band * 4)) & 15 AS key
  FROM sig, (VALUES (0), (1), (2), (3)) b(band)
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.id < r.id
), e AS (
  -- normalize once per vector, mirroring the Spark tree exactly:
  -- unit[i] = v[i] * (1.0 / norm); pair verify is then a single dot
  SELECT vec_id AS id,
         CASE WHEN sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) > 0
              THEN list_transform(
                     embedding::DOUBLE[],
                     x -> x * (1.0 / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))))
         END AS v
  FROM embeddings
), p AS (
  SELECT c.id_a, c.id_b,
         round(
           list_sum(list_transform(range(1, len(l.v) + 1), i -> l.v[i] * r.v[i])),
         6) AS cosine
  FROM cand c JOIN e l ON c.id_a = l.id JOIN e r ON c.id_b = r.id
)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= {COS_T}
"""


# ---------------------------------------------------------------------------
# q22–q24 — SimHash near-dup pairs + approximate kNN (LSH, IVF).
# All three are deterministic end-to-end (md5-derived hashes / hyperplanes,
# literal centroids, unique tiebreakers), so the DuckDB oracle replays the
# FULL algorithm — fingerprinting, banding, probing, verification — in SQL.
# The only cross-engine freedom is float fold order inside dot products,
# which can flip a sign/argmax only when two quantities agree to ~1e-13;
# with 64-dim random embeddings that never occurs (verified at sf0.01/0.001).
# ---------------------------------------------------------------------------

def q22_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # hash_fn="md5": S.md5_hash64 token hashes (bit-identical in DuckDB)
    # instead of the xxhash64 production default, so the oracle below can
    # replay the exact fingerprints.
    return dedup.simhash_pairs(docs, max_hamming=16, hash_fn="md5")


Q22_SQL = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
  FROM documents
), tok AS (  -- distinct tokens per doc (Spark: explode(array_distinct(tokens)))
  SELECT DISTINCT doc_id, unnest(string_split(s, ' ')) AS t
  FROM norm WHERE s IS NOT NULL
), th AS (   -- signed 64-bit md5 token hash, two 32-bit halves (md5_hash64)
  SELECT doc_id,
         CASE WHEN hi >= 2147483648
              THEN (hi - 4294967296) * 4294967296 + lo
              ELSE hi * 4294967296 + lo END AS h
  FROM (SELECT doc_id,
               ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
               ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
        FROM tok)
), bits AS ( -- per-doc ones count of every bit position
  SELECT t.doc_id, r.i, sum((t.h >> r.i) & 1) AS ones, count(*) AS n
  FROM th t, range(0, 64) r(i)
  GROUP BY 1, 2
), fp0 AS (  -- majority vote packs the fingerprint (bit 63 via min-long:
             -- DuckDB checks shift overflow, Spark shiftleft wraps)
  SELECT doc_id,
         CAST(sum(CASE WHEN ones * 2 > n THEN
                    CASE WHEN i = 63 THEN -9223372036854775808
                         ELSE (1::BIGINT << CAST(i AS INT)) END
                  ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
), fps AS (  -- docs with NULL text keep fingerprint 0 (Spark explode_outer)
  SELECT d.doc_id AS id, coalesce(f.simhash, 0) AS simhash
  FROM documents d LEFT JOIN fp0 f ON d.doc_id = f.doc_id
), banded AS (
  SELECT id, simhash, b.band, (simhash >> (b.band * 16)) & 65535 AS key
  FROM fps, (VALUES (0), (1), (2), (3)) b(band)
)
SELECT DISTINCT l.id AS id_a, r.id AS id_b,
       bit_count(xor(l.simhash, r.simhash)) AS hamming
FROM banded l JOIN banded r
  ON l.band = r.band AND l.key = r.key AND l.id < r.id
WHERE bit_count(xor(l.simhash, r.simhash)) <= 16
"""


def q23_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == KNN_QUERY_ID).select("embedding").first()
    return similarity.lsh_knn(
        emb.filter(F.col("vec_id") != KNN_QUERY_ID),
        list(qrow["embedding"]),
        k=KNN_K,
    )


# Replays lsh_knn end-to-end: the md5-derived hyperplanes (seed "owes",
# 16 planes — similarity._pseudo_random_hyperplanes), per-vector sign
# signatures, 4×4-bit band match against the query's signature, then exact
# cosine top-k over the candidates (Q15's cosine form).
Q23_SQL = f"""
WITH hp AS (
  SELECT p.p, d.d,
         ('0x' || substr(md5('owes:' || p.p || ':' || (d.d - 1)), 1, 8))::BIGINT
           / 4294967295.0 * 2.0 - 1.0 AS w
  FROM range(0, 16) p(p), range(1, 65) d(d)
), dots AS (
  SELECT e.vec_id, h.p, sum(e.embedding[h.d]::DOUBLE * h.w) AS dot
  FROM embeddings e, hp h
  GROUP BY 1, 2
), sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0
                       THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS s
  FROM dots GROUP BY 1
), qs AS (
  SELECT s AS q FROM sig WHERE vec_id = {KNN_QUERY_ID}
), cand AS (
  SELECT g.vec_id
  FROM sig g, qs
  WHERE g.vec_id <> {KNN_QUERY_ID} AND (
        ((g.s >> 0) & 15) = ((qs.q >> 0) & 15)
     OR ((g.s >> 4) & 15) = ((qs.q >> 4) & 15)
     OR ((g.s >> 8) & 15) = ((qs.q >> 8) & 15)
     OR ((g.s >> 12) & 15) = ((qs.q >> 12) & 15))
), q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {KNN_QUERY_ID}
), scored AS (
  SELECT e.vec_id,
         round(
           list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> e.embedding[i]::DOUBLE * q.qv[i]))
           / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
         6) AS cosine
  FROM embeddings e, cand c, q WHERE e.vec_id = c.vec_id
)
SELECT vec_id, cosine FROM scored
ORDER BY cosine DESC NULLS LAST, vec_id LIMIT {KNN_K}
"""


def q24_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    crows = (
        emb.filter(F.col("vec_id").isin(list(range(1, 9))))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    centroids = [list(r["embedding"]) for r in crows]
    qrow = emb.filter(F.col("vec_id") == KNN_QUERY_ID).select("embedding").first()
    return similarity.ivf_knn(
        emb.filter(F.col("vec_id") != KNN_QUERY_ID),
        centroids,
        list(qrow["embedding"]),
        k=KNN_K,
        n_probe=3,
    )


# Replays ivf_knn end-to-end: centroids = embeddings vec_id 1..8 (cell =
# vec_id-1), rank centroids by cosine to the query and keep n_probe=3
# (Python's stable sort → ties break cell asc), assign every non-query
# vector to its argmax-cosine cell (Spark array_max over struct(cos, cell):
# ties break cell DESC), then exact cosine top-k over vectors in probed cells.
Q24_SQL = f"""
WITH cent AS (
  SELECT vec_id - 1 AS cell, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id BETWEEN 1 AND 8
), q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {KNN_QUERY_ID}
), cq AS (
  SELECT c.cell,
         list_sum(list_transform(range(1, len(c.cv) + 1), i -> c.cv[i] * q.qv[i]))
         / (sqrt(list_sum(list_transform(c.cv, x -> x * x)))
            * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cos
  FROM cent c, q
), probe AS (
  SELECT cell FROM cq ORDER BY cos DESC, cell LIMIT 3
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY (list_sum(list_transform(range(1, len(e.embedding) + 1),
                                i -> e.embedding[i]::DOUBLE * c.cv[i]))
                       / (sqrt(list_sum(list_transform(e.embedding,
                                        x -> x::DOUBLE * x::DOUBLE)))
                          * sqrt(list_sum(list_transform(c.cv, x -> x * x))))) DESC,
                      c.cell DESC
           ) AS rn
    FROM embeddings e, cent c
    WHERE e.vec_id <> {KNN_QUERY_ID}
  ) WHERE rn = 1
), cand AS (
  SELECT a.vec_id FROM assigned a JOIN probe p ON a.cell = p.cell
), scored AS (
  SELECT e.vec_id,
         round(
           list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> e.embedding[i]::DOUBLE * q.qv[i]))
           / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
         6) AS cosine
  FROM embeddings e, cand c2, q WHERE e.vec_id = c2.vec_id
)
SELECT vec_id, cosine FROM scored
ORDER BY cosine DESC NULLS LAST, vec_id LIMIT {KNN_K}
"""


# ---------------------------------------------------------------------------
# q25/q26 — multimodal columns: binary payload + typed metadata
# (flat_map plumbing; the decode step is stubbed — see
#  operators/multimodal.py docstring)
# ---------------------------------------------------------------------------

_JPEG_PREFIX = b"\xff\xd8\xff"
_WAV_PREFIX = b"RIFF\x00\x00\x00\x00WAVE"


def _payloads(docs: DataFrame) -> DataFrame:
    """Synthesize a binary media column from documents: a real container
    magic (by doc_id % 3: PNG / JPEG / WAV-RIFF) + the utf-8 text bytes.
    Only mime + n_bytes are asserted downstream — deeper header fields
    would read text bytes and are not meaningful on synthetic payloads."""
    body = F.coalesce(F.encode(F.col("text"), "UTF-8"), F.lit(b""))
    content = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit(multimodal.PNG_MAGIC), body))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit(_JPEG_PREFIX), body))
        .otherwise(F.concat(F.lit(_WAV_PREFIX), body))
    )
    return docs.select("doc_id", content.alias("content"))


def q25_multimodal_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    meta = multimodal.sniff_metadata(_payloads(docs))
    return meta.select("doc_id", "mime", "n_bytes")


Q25_SQL = f"""
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'image/jpeg'
                       ELSE 'audio/wav' END AS mime,
       CAST(CASE doc_id % 3 WHEN 0 THEN {len(multimodal.PNG_MAGIC)}
                            WHEN 1 THEN {len(_JPEG_PREFIX)}
                            ELSE {len(_WAV_PREFIX)} END
            + octet_length(coalesce(encode(text), ''::BLOB)) AS BIGINT) AS n_bytes
FROM documents
"""


def q26_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-derived feature vectors over raw utf-8 payloads; projected
    to scalar doubles so the oracle compare is format-free.  The md5
    keystream is replayed exactly in DuckDB (blob md5 + hex→int)."""
    docs = _t(spark, sf_dir, "documents")
    payload = docs.select(
        "doc_id",
        F.coalesce(F.encode(F.col("text"), "UTF-8"), F.lit(b"")).alias("content"),
    )
    feats = multimodal.extract_features(payload, dim=8)
    return feats.select(
        "doc_id", *[F.col("feature")[i].alias(f"f{i}") for i in range(8)]
    )


def _features_oracle_sql() -> str:
    slots = []
    for i in range(8):
        block = i // 4
        off = (i % 4) * 8 + 1
        slots.append(
            f"('0x' || substr(h{block}, {off}, 8))::UBIGINT / 4294967296.0 AS f{i}"
        )
    cols = ",\n       ".join(slots)
    return f"""
WITH p AS (
  SELECT doc_id, coalesce(encode(text), ''::BLOB) AS b FROM documents
), h AS (
  SELECT doc_id,
         md5(hex(b) || ':0') AS h0,
         md5(hex(b) || ':1') AS h1
  FROM p
)
SELECT doc_id, {cols} FROM h
"""


Q26_SQL = _features_oracle_sql()


# ---------------------------------------------------------------------------
# q27 — as-of (point-in-time) join: latest click value as of each purchase
# (operators/asof_join.py — union-merge plan, one shuffle+sort)
# ---------------------------------------------------------------------------

def q27_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    # unique (user, ts) on the right side — required for deterministic
    # as-of semantics (see operator docstring)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    return asof_join.asof_join(purchases, clicks, on="ts", by="user_id")


Q27_SQL = """
WITH p AS (
  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT p.user_id, p.ts, p.event_id, p.value, c.click_value
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---------------------------------------------------------------------------
# q28 — multi-resolution time rollup (hypertable-rollup analog):
# ROLLUP(day, hour) gives hour-level, day-level, and grand-total rows in
# one pass — partial aggregates shuffle once, Catalyst expands the sets.
# ---------------------------------------------------------------------------

def q28_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
    )


Q28_SQL = f"""
SELECT date_trunc('day', ts)::TIMESTAMP AS day,
       date_trunc('hour', ts)::TIMESTAMP AS hour,
       count(*) AS n_events,
       {_DSUM.format(x='value')} AS total_value
FROM events
GROUP BY ROLLUP(day, hour)
"""


# ---------------------------------------------------------------------------
# q29 — semi-structured props: JSON extraction + aggregate per event_type
# ---------------------------------------------------------------------------

def q29_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


Q29_SQL = """
SELECT event_type,
       count(json_extract(props, '$.k')::BIGINT) AS n_with_k,
       -- BIGINT cast: DuckDB sum(BIGINT) is HUGEINT -> Arrow decimal128,
       -- which hash-mismatches Spark's int64 in the driver's canonicalizer
       CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       min(json_extract(props, '$.k')::BIGINT) AS min_k,
       max(json_extract(props, '$.k')::BIGINT) AS max_k
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q30 — the V1/V2 surface: CREATE TEMP VIEW + a WITH-CTE Spark SQL query
# (views.sql lifecycle §3.2 — the SQL text path through Catalyst)
# ---------------------------------------------------------------------------

def q30_sql_view_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        WITH cte1 AS (
          SELECT o_custkey,
                 split_part(o_orderpriority, '-', 1) AS prio_code,
                 o_totalprice
          FROM v_orders
        )
        SELECT c_mktsegment, prio_code,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM cte1 JOIN v_customer ON cte1.o_custkey = c_custkey
        GROUP BY c_mktsegment, prio_code
        """
    )


Q30_SQL = """
WITH cte1 AS (
  SELECT o_custkey,
         split_part(o_orderpriority, '-', 1) AS prio_code,
         o_totalprice
  FROM orders
)
SELECT c_mktsegment, prio_code,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM cte1 JOIN customer ON cte1.o_custkey = c_custkey
GROUP BY c_mktsegment, prio_code
"""


# ---------------------------------------------------------------------------
# q31 — set operations: UNION / INTERSECT / EXCEPT over customer keysets
# ---------------------------------------------------------------------------

def q31_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    both = urgent.intersect(high).withColumn("set_kind", F.lit("both"))
    # subtract == EXCEPT (set semantics): urgent keys never seen in high
    urgent_only = urgent.subtract(high).withColumn("set_kind", F.lit("urgent_only"))
    return both.unionByName(urgent_only).select(
        F.col("o_custkey").alias("custkey"), "set_kind"
    )


Q31_SQL = """
WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
     high   AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
     in_both AS (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM high)
SELECT o_custkey AS custkey, 'both' AS set_kind FROM in_both
UNION ALL
SELECT DISTINCT o_custkey, 'urgent_only'
FROM urgent
WHERE o_custkey NOT IN (SELECT o_custkey FROM high)
"""


# ---------------------------------------------------------------------------
# q32 — analytic window functions: running total + lag delta + rank per
# customer order history (frame-spec coverage beyond q08's rank-topk)
# ---------------------------------------------------------------------------

def q32_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        # decimal accumulation → running sum independent of fold order
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(run)
        .cast("double")
        .alias("running_spend"),
        (F.col("o_totalprice") - F.lag("o_totalprice", 1).over(w)).alias(
            "delta_vs_prev"
        ),
        F.row_number().over(w).alias("order_seq"),
    )


Q32_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend,
       o_totalprice - lag(o_totalprice, 1)
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS delta_vs_prev,
       row_number()
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS order_seq
FROM orders
"""


# ---------------------------------------------------------------------------
# q33 — distribution statistics: exact order-stat percentiles per group
# (bit-exact cross-engine: interpolation of sorted values, not a float fold).
# Uses operators/stats.py instead of Spark's built-in `percentile`, whose
# per-group ObjectHashAggregate buffer is unbounded at 100 TB.
# ---------------------------------------------------------------------------

def q33_price_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    pct = stats.grouped_exact_percentiles(
        o,
        "o_orderpriority",
        "o_totalprice",
        {"median_price": 0.5, "p90_price": 0.9, "p99_price": 0.99},
    )
    extras = o.groupBy("o_orderpriority").agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )
    return pct.join(extras, "o_orderpriority").select(
        "o_orderpriority",
        "median_price",
        "p90_price",
        "p99_price",
        "min_price",
        "max_price",
        "n_customers",
    )


Q33_SQL = """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.5) AS median_price,
       quantile_cont(o_totalprice, 0.9) AS p90_price,
       quantile_cont(o_totalprice, 0.99) AS p99_price,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price,
       count(DISTINCT o_custkey) AS n_customers
FROM orders
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q34 — the full training-data curation funnel (quality → lang → dedup)
# as one plan: operators/curation.py.  Oracle composes the q17/q18/q12
# SQL fragments as CTEs over the same filtered set.
# ---------------------------------------------------------------------------

CURATE_MIN_Q = 0.5


def q34_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = curation.curate_corpus(docs, min_quality=CURATE_MIN_Q, langs=("en",))
    return out.select("doc_id", "source", "quality", "pred_lang")


def _curate_oracle_sql() -> str:
    quality_cte = Q17_SQL.strip()
    lang_cte = Q18_SQL.strip()
    return f"""
WITH q AS ({quality_cte}),
l AS ({lang_cte}),
kept AS (
  SELECT d.doc_id, d.source, d.text, q.quality, l.pred_lang
  FROM documents d
  JOIN q ON d.doc_id = q.doc_id
  JOIN l ON d.doc_id = l.doc_id
  WHERE q.quality >= {CURATE_MIN_Q} AND l.pred_lang = 'en'
),
keep_ids AS (
  SELECT min(doc_id) AS doc_id
  FROM kept
  GROUP BY md5({_NORM})
)
SELECT k.doc_id, k.source, k.quality, k.pred_lang
FROM kept k JOIN keep_ids USING (doc_id)
"""


Q34_SQL = _curate_oracle_sql()


# ---------------------------------------------------------------------------
# q35 — deterministic train/val/test split (operators/splits.py): pure
# hash-of-id projection, no shuffle, engine-portable.
# ---------------------------------------------------------------------------

def q35_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return splits.hash_split(docs, "doc_id").select("doc_id", "source", "split")


Q35_SQL = """
SELECT doc_id, source,
       CASE WHEN b < 80 THEN 'train'
            WHEN b < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, source,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INTEGER % 100 AS b
  FROM documents
) t
"""


# ---------------------------------------------------------------------------
# q36 — PII redaction (functions/pii.py).  The synthetic corpus carries no
# PII, so the query deterministically derives a contact string from doc_id
# (emails/phones/IPs) and redacts THAT — non-vacuous and oracle-replayable.
# ---------------------------------------------------------------------------

def q36_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = i.cast("string")
    contact = F.concat(
        F.lit("reach user"), s,
        F.lit(" at user"), s,
        F.lit("@mail"), (i % 10).cast("string"),
        F.lit(".com or +1-202-555-0"),
        F.lpad((i % 1000).cast("string"), 3, "0"),
        F.lit(" ip 10.0."), (i % 256).cast("string"),
        F.lit("."), ((i * 7) % 256).cast("string"),
    )
    n_email, n_phone, n_ip = pii.pii_counts(contact)
    return docs.select(
        "doc_id",
        pii.redact_pii(contact).alias("redacted"),
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        n_ip.alias("n_ips"),
    )


Q36_SQL = f"""
WITH c AS (
  SELECT doc_id,
         'reach user' || doc_id::VARCHAR || ' at user' || doc_id::VARCHAR
           || '@mail' || (doc_id % 10)::VARCHAR || '.com or +1-202-555-0'
           || lpad((doc_id % 1000)::VARCHAR, 3, '0')
           || ' ip 10.0.' || (doc_id % 256)::VARCHAR || '.'
           || ((doc_id * 7) % 256)::VARCHAR AS contact
  FROM documents
), r AS (
  SELECT doc_id, contact,
         regexp_replace(contact, '{pii.EMAIL_RE}', '<EMAIL>', 'g') AS after_email
  FROM c
), r2 AS (
  SELECT doc_id, contact, after_email,
         regexp_replace(after_email, '{pii.PHONE_RE}', '<PHONE>', 'g') AS after_phone
  FROM r
)
SELECT doc_id,
       regexp_replace(after_phone, '{pii.IPV4_RE}', '<IP>', 'g') AS redacted,
       len(regexp_extract_all(contact, '{pii.EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(after_email, '{pii.PHONE_RE}')) AS n_phones,
       len(regexp_extract_all(after_phone, '{pii.IPV4_RE}')) AS n_ips
FROM r2
"""


# ---------------------------------------------------------------------------
# q37 — overlapping token-window chunking (operators/chunking.py)
# ---------------------------------------------------------------------------

CHUNK_SIZE, CHUNK_STRIDE = 32, 24


def q37_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = chunking.chunk_tokens(
        docs, chunk_size=CHUNK_SIZE, stride=CHUNK_STRIDE
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


Q37_SQL = f"""
WITH s AS (
  SELECT doc_id, str_split_regex(text, '\\s+') AS toks,
         len(str_split_regex(text, '\\s+')) AS n
  FROM documents
), e AS (
  SELECT doc_id, toks, n,
         CASE WHEN n > {CHUNK_SIZE}
              THEN (n - {CHUNK_SIZE} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
              ELSE 0 END AS extra
  FROM s
), r AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, extra)) AS chunk_id
  FROM e
)
SELECT doc_id, chunk_id,
       array_to_string(
         list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                    chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' ') AS chunk_text,
       least({CHUNK_SIZE}, n - chunk_id * {CHUNK_STRIDE}) AS n_tokens
FROM r
"""


# ---------------------------------------------------------------------------
# q38 — corpus vocabulary by document frequency (operators/vocab.py)
# ---------------------------------------------------------------------------

VOCAB_N = 1000


def q38_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = vocab.build_vocab(docs, top_n=VOCAB_N)
    return out.select(
        "token",
        F.col("doc_freq").cast("long").alias("doc_freq"),
        F.col("token_id").cast("long").alias("token_id"),
    )


Q38_SQL = f"""
WITH tk AS (
  SELECT doc_id, unnest(list_distinct(str_split_regex(text, '\\s+'))) AS token
  FROM documents
), df_ AS (
  SELECT token, count(*) AS doc_freq
  FROM tk WHERE token <> ''
  GROUP BY token
)
SELECT token, doc_freq,
       row_number() OVER (ORDER BY doc_freq DESC, token) AS token_id
FROM df_
QUALIFY token_id <= {VOCAB_N}
"""


# ---------------------------------------------------------------------------
# q39 — duplicate clusters: connected components over the q13 MinHash pair
# list (operators/graph.py).  Iterative min-label propagation in Spark;
# the DuckDB oracle replays it as a recursive-CTE transitive closure over
# the SAME edge list, so even the iterative operator is value-checked.
# ---------------------------------------------------------------------------

def q39_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_pairs(docs).select("id_a", "id_b")
    cc = graph.connected_components(edges)
    return cc.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


Q39_SQL = f"""
WITH RECURSIVE edges AS (
  SELECT id_a, id_b FROM ({Q13_SQL}) mh
), sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM edges
), reach AS (
  SELECT DISTINCT u AS id, u AS lbl FROM sym
  UNION
  SELECT s.u AS id, r.lbl
  FROM sym s JOIN reach r ON r.id = s.v
)
SELECT id AS doc_id, min(lbl) AS cluster_id
FROM reach GROUP BY id
"""


# ---------------------------------------------------------------------------
# q40 — sequence packing (operators/chunking.py): greedy next-fit token
# bins per source shard via applyInPandas.  The running-capacity reset is
# not a window function; the DuckDB oracle replays it as a per-group
# linear recursion (depth = docs per group at oracle SF).
# ---------------------------------------------------------------------------

PACK_BUDGET = 256


def q40_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = chunking.pack_sequences(docs, budget=PACK_BUDGET)
    return out.select(
        F.col("grp").alias("source"),
        F.col("id").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "bin_id",
        "bin_fill",
    )


Q40_SQL = f"""
WITH RECURSIVE d AS (
  SELECT source, doc_id,
         len(str_split_regex(text, '\\s+'))::BIGINT AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
), p AS (
  SELECT source, doc_id, n_tokens, rn,
         0::BIGINT AS bin_id, n_tokens AS bin_fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.source, d.doc_id, d.n_tokens, d.rn,
         CASE WHEN p.bin_fill + d.n_tokens > {PACK_BUDGET}
              THEN p.bin_id + 1 ELSE p.bin_id END AS bin_id,
         CASE WHEN p.bin_fill + d.n_tokens > {PACK_BUDGET}
              THEN d.n_tokens ELSE p.bin_fill + d.n_tokens END AS bin_fill
  FROM p JOIN d ON d.source = p.source AND d.rn = p.rn + 1
)
SELECT source, doc_id, n_tokens, bin_id, bin_fill FROM p
"""


# ---------------------------------------------------------------------------
# q41 — per-label embedding centroids (operators/similarity.py): distributed
# vector mean via posexplode + decimal-sum hash aggregate.
# ---------------------------------------------------------------------------

def q41_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.grouped_centroids(emb, group_col="label")


Q41_SQL = """
WITH x AS (
  SELECT label, embedding,
         unnest(generate_series(1, len(embedding))) AS dim
  FROM embeddings
)
SELECT label, dim,
       round(avg(embedding[dim]::DOUBLE), 6) AS centroid,
       count(*) AS n_vectors
FROM x
GROUP BY label, dim
"""


# ---------------------------------------------------------------------------
# q42 — per-doc top-k tokens by smoothed TF-IDF (operators/text_analysis.py)
# ---------------------------------------------------------------------------

TFIDF_K = 5


def q42_tfidf_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = text_analysis.tfidf_top_tokens(docs, k=TFIDF_K)
    return out.select(
        F.col("id").alias("doc_id"), "token", "tfidf", "rank"
    )


Q42_SQL = f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(str_split_regex(text, '\\s+')) AS token
  FROM documents
), tf AS (
  SELECT id, token, count(*) AS tf
  FROM toks WHERE token <> '' GROUP BY id, token
), df_ AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), n AS (
  SELECT count(DISTINCT doc_id) AS n FROM documents
), idf AS (
  SELECT token, ln((n + 1.0) / (df + 1.0)) + 1.0 AS idf FROM df_, n
), scored AS (
  SELECT id, token, round(tf * idf, 6) AS tfidf
  FROM tf JOIN idf USING (token)
)
SELECT id AS doc_id, token, tfidf,
       row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, token) AS rank
FROM scored
QUALIFY rank <= {TFIDF_K}
"""


# ---------------------------------------------------------------------------
# q43 — snowflake dimension rollup over region -> nation -> supplier /
# customer.  The fact-side aggregates reduce BEFORE the joins (map-side
# partial agg to 25 nation rows), then the tiny dimension chain broadcasts
# — the canonical star/snowflake shape at any scale.  Exercises the three
# tables (region, nation, supplier) no other query touches.
# ---------------------------------------------------------------------------

def q43_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    s = supplier.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        (
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_s_acctbal"),
    )
    c = customer.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(s, nation.n_nationkey == s.s_nationkey, "left")
        .join(c, nation.n_nationkey == c.c_nationkey, "left")
        .select(
            "r_name",
            "n_name",
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            "avg_s_acctbal",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        )
    )


Q43_SQL = """
WITH s AS (
  SELECT s_nationkey, count(*) AS n_suppliers,
         CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
           AS avg_s_acctbal
  FROM supplier GROUP BY s_nationkey
), c AS (
  SELECT c_nationkey, count(*) AS n_customers
  FROM customer GROUP BY c_nationkey
)
SELECT r_name, n_name,
       coalesce(n_suppliers, 0) AS n_suppliers,
       avg_s_acctbal,
       coalesce(n_customers, 0) AS n_customers
FROM nation
JOIN region ON n_regionkey = r_regionkey
LEFT JOIN s ON n_nationkey = s_nationkey
LEFT JOIN c ON n_nationkey = c_nationkey
"""


# ---------------------------------------------------------------------------
# q44 — price-band range join (operators/range_join.py): lineitem prices
# into overlapping bands via bucket-grid equi-join (no nested loop), then
# per-band revenue rollup.
# ---------------------------------------------------------------------------

PRICE_BANDS = [
    # (band, lo, hi) — deliberately overlapping at the 30-45k seam
    ("low", 0.0, 15000.0),
    ("mid", 15000.01, 45000.0),
    ("high", 30000.0, 75000.0),
    ("lux", 75000.01, 1000000.0),
]


def q44_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_extendedprice", F.col("l_quantity")
    )
    # literal-expression band table: createDataFrame on a Python list
    # plans as applySchemaToPythonRDD (spins up Python workers for 4
    # rows); a literal array fold stays entirely JVM-side.
    bands = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.lit(lo).alias("lo"),
                            F.lit(hi).alias("hi"),
                        )
                        for b, lo, hi in PRICE_BANDS
                    ]
                )
            ).alias("b")
        )
        .select("b.*")
    )
    joined = range_join.range_join(
        li, "l_extendedprice", bands, bucket_width=15000.0
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_qty"),
    )


def _price_band_oracle_sql() -> str:
    values = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)
    return f"""
WITH bands(band, lo, hi) AS (VALUES {values})
SELECT band, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem JOIN bands
  ON l_extendedprice >= lo AND l_extendedprice <= hi
GROUP BY band
"""


Q44_SQL = _price_band_oracle_sql()


# ---------------------------------------------------------------------------
# q45 — pivot (long → wide conditional aggregation): order revenue by
# priority, one column per order status.  Pivot values are passed
# EXPLICITLY — omitting them makes Spark run a blocking distinct-collect
# job over the pivot column first, which at 100 TB is a full extra scan;
# with the value list, pivot compiles to a single hash-aggregate of
# sum(CASE WHEN ...) expressions (no extra pass, no wide-row state).
# ---------------------------------------------------------------------------

ORDER_STATUSES = ["F", "O", "P"]


def q45_returns_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ORDER_STATUSES)
        .agg(_dsum(F.col("o_totalprice")))
    )
    return wide.select(
        "o_orderpriority",
        *[F.col(s).alias(f"rev_{s.lower()}") for s in ORDER_STATUSES],
    )


def _pivot_oracle_sql() -> str:
    cells = ",\n       ".join(
        "CAST(sum(CASE WHEN o_orderstatus = '{s}' THEN "
        "CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) "
        "AS rev_{ls}".format(s=s, ls=s.lower())
        for s in ORDER_STATUSES
    )
    return f"""
SELECT o_orderpriority,
       {cells}
FROM orders
GROUP BY o_orderpriority
"""


Q45_SQL = _pivot_oracle_sql()


# ---------------------------------------------------------------------------
# q46 — unpivot / melt (wide → long): the four lineitem measures become
# (measure, value) rows, then a per-measure rollup.  Spark's unpivot is a
# zero-shuffle Expand (each input row emits one row per measure inside
# the scan stage) — the long form never materializes outside the
# pipelined aggregate, so this is safe at any scale.
# ---------------------------------------------------------------------------

MELT_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q46_measure_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=MELT_MEASURES,
        variableColumnName="measure",
        valueColumnName="value",
    )
    return long.groupBy("measure").agg(
        F.count("value").alias("n_values"),
        _dsum(F.col("value")).alias("total"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def _melt_oracle_sql() -> str:
    arms = "\n  UNION ALL ".join(
        f"SELECT '{m}' AS measure, {m} AS value FROM lineitem"
        for m in MELT_MEASURES
    )
    return f"""
WITH long AS (
  {arms}
)
SELECT measure,
       count(value) AS n_values,
       {_DSUM.format(x='value')} AS total,
       min(value) AS min_value,
       max(value) AS max_value
FROM long
GROUP BY measure
"""


Q46_SQL = _melt_oracle_sql()


# ---------------------------------------------------------------------------
# q47 — single-pass table profile (operators/profile.py): per-column
# non-null/null/distinct/min/max over the lineitem measures + keys, one
# scan, transposed to long rows driver-free.
# ---------------------------------------------------------------------------

PROFILE_COLUMNS = [
    "l_orderkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]


def q47_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return profile.profile_numeric(li, PROFILE_COLUMNS, exact=True)


def _profile_oracle_sql() -> str:
    arms = "\n  UNION ALL ".join(
        f"SELECT '{c}' AS column_name, count({c}) AS n_nonnull, "
        f"count(*) - count({c}) AS n_null, "
        f"count(DISTINCT {c}) AS n_distinct, "
        f"CAST(min({c}) AS DOUBLE) AS min_value, "
        f"CAST(max({c}) AS DOUBLE) AS max_value FROM lineitem"
        for c in PROFILE_COLUMNS
    )
    return f"  {arms}"


Q47_SQL = _profile_oracle_sql()


# ---------------------------------------------------------------------------
# q48 — CUBE aggregate: all 2^2 grouping combinations of
# (returnflag, linestatus) in one pass.  Spark plans cube as a single
# Expand (+1 row per grouping set per input row) feeding one hash
# aggregate — one shuffle total, not one job per grouping set.
# Complements q28 (ROLLUP on event time).
# ---------------------------------------------------------------------------

def q48_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        _dsum(F.col("l_extendedprice")).alias("revenue"),
    )


Q48_SQL = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       {_DSUM.format(x='l_extendedprice')} AS revenue
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# q49 — statistical aggregates per group: stddev / variance / correlation
# / covariance.  These are float folds (no exact-decimal form exists), so
# per the module determinism rules they are rounded at 6dp; both engines
# use numerically-stable one-pass updates, agreeing far below that.
# ---------------------------------------------------------------------------

def q49_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / corr / covar from EXACT decimal moment sums.

    The builtin stddev/corr aggregates accumulate doubles, so their
    last-ulp output depends on partition merge order — fine numerically,
    but not reproducible across layouts or engines.  All four moments
    here are computed from order-independent decimal sums (the inputs
    carry exactly 2 decimals, squares/products exactly 4, so the sums
    are exact integers in scaled decimal); only the final closed-form
    per-group scalar arithmetic runs in double, with the same expression
    tree as the oracle, which makes the result bit-stable regardless of
    row order, file layout, or partition count — the property a 100 TB
    engine needs for rerun-identical audits.
    """
    li = _t(spark, sf_dir, "lineitem")

    def d(c: str) -> F.Column:
        return F.col(c).cast("decimal(18,2)")

    def dbl(col: F.Column) -> F.Column:
        # decimal -> STRING -> double: the sums exceed 2^53 as scaled
        # integers, and a direct decimal->double cast double-rounds in
        # DuckDB (int128 then /10^scale) while Java rounds once.  The
        # string of a decimal is its exact digits, and string->double is
        # correctly rounded in BOTH engines — so this path is bit-equal.
        return col.cast("string").cast("double")

    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dbl(F.sum(d("l_quantity"))).alias("sq"),
        dbl(F.sum(d("l_quantity") * d("l_quantity"))).alias("sqq"),
        dbl(F.sum(d("l_extendedprice"))).alias("sp"),
        dbl(F.sum(d("l_extendedprice") * d("l_extendedprice"))).alias("spp"),
        dbl(F.sum(d("l_quantity") * d("l_extendedprice"))).alias("sqp"),
        dbl(F.sum(d("l_discount"))).alias("sd"),
        dbl(F.sum(d("l_tax"))).alias("st"),
        dbl(F.sum(d("l_discount") * d("l_tax"))).alias("sdt"),
    )
    n, sq, sqq = F.col("n"), F.col("sq"), F.col("sqq")
    sp, spp, sqp = F.col("sp"), F.col("spp"), F.col("sqp")
    sd, st, sdt = F.col("sd"), F.col("st"), F.col("sdt")

    # NO rounding: the moment sums are exact, so identical double
    # expression trees are bit-equal across engines — a final round()
    # would REINTRODUCE divergence (Spark rounds via exact BigDecimal
    # HALF_UP, DuckDB in floating point; tie-boundary values differ).
    return sums.select(
        "l_returnflag",
        F.sqrt((sqq - sq * sq / n) / (n - 1)).alias("qty_stddev"),
        ((spp - sp * sp / n) / (n - 1)).alias("price_var"),
        (
            (n * sqp - sq * sp)
            / (F.sqrt(n * sqq - sq * sq) * F.sqrt(n * spp - sp * sp))
        ).alias("qty_price_corr"),
        ((sdt - sd * st / n) / (n - 1)).alias("disc_tax_covar"),
    )


# Mirrors q49's expression tree exactly: decimal moment sums (exact,
# order-independent) cast to double, then the identical closed-form
# scalar arithmetic — bit-equal output on any file layout.
Q49_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sq,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sqq,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sp,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS spp,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sqp,
         CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sd,
         CAST(CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS st,
         CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_tax AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sdt
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       sqrt((sqq - sq * sq / n) / (n - 1)) AS qty_stddev,
       (spp - sp * sp / n) / (n - 1) AS price_var,
       (n * sqp - sq * sp)
         / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)) AS qty_price_corr,
       (sdt - sd * st / n) / (n - 1) AS disc_tax_covar
FROM s
"""


def _doc_blobs(docs: DataFrame, make: Callable[[int], bytes]) -> DataFrame:
    """(doc_id, content binary): ``make(doc_id)`` for every document —
    the one shape of the per-document binary fixtures below, built on
    the Python workers by ``flat_map``.  Each fixture nests its
    ``make`` inside its builder so it is pickled by value; a
    module-level function would be pickled by reference and make every
    worker import this module."""
    return flat_map(
        docs, ["doc_id"], "doc_id long, content binary",
        lambda did: [(did, make(did))],
    )


# ---------------------------------------------------------------------------
# q50 — REAL image decode: synthesize an 8×8 grayscale PNG per document
# (pixel k = (doc_id*31 + (k%8)*7 + (k//8)*13) % 256), push it through the
# stdlib PNG encoder AND decoder (zlib deflate→inflate, scanline filters),
# then aggregate the decoded raster JVM-side.  The oracle replays the
# closed-form pixel function — so a value match proves the encode→decode
# round-trip reproduced every pixel bit-exactly through real compression.
# ---------------------------------------------------------------------------

def _synth_png(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, content): deterministic n×n grayscale gradient PNG per
    doc, pixel k = (doc_id*31 + (k%n)*7 + (k//n)*13) % 256."""

    def _png(did):
        px = bytes(
            (did * 31 + (k % n) * 7 + (k // n) * 13) % 256
            for k in range(n * n)
        )
        return multimodal.encode_png_gray(n, n, px)

    return _doc_blobs(docs, _png)


def q50_decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    decoded = multimodal.decode_image(_synth_png(docs, 8), thumb=8)
    px = F.col("pixels")
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.aggregate(px, F.lit(0).cast("long"), lambda acc, v: acc + v).alias("px_sum"),
        F.array_min(px).cast("long").alias("px_min"),
        F.array_max(px).cast("long").alias("px_max"),
    )


Q50_SQL = """
SELECT doc_id, 8 AS width, 8 AS height,
       CAST(list_sum(pxs) AS BIGINT) AS px_sum,
       CAST(list_min(pxs) AS BIGINT) AS px_min,
       CAST(list_max(pxs) AS BIGINT) AS px_max
FROM (
  SELECT doc_id,
         list_transform(range(0, 64),
                        k -> (doc_id*31 + (k%8)*7 + (k//8)*13) % 256) AS pxs
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# q51 — REAL audio decode: synthesize a 64-sample PCM16 WAV per document
# (sample k = (doc_id*37 + k*115) % 4001 - 2000), decode it with the
# stdlib WAV parser, emit per-asset stats.  Oracle replays the closed
# form — a match proves fmt/data chunk walking + PCM16 unpack are exact.
# ---------------------------------------------------------------------------

_WAV_RATE, _WAV_N = 8000, 64


def _synth_wav(docs: DataFrame) -> DataFrame:
    import struct as _s

    fmt = _s.pack("<HHIIHH", 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)

    def _wav(did):
        samples = [(did * 37 + k * 115) % 4001 - 2000 for k in range(_WAV_N)]
        data = _s.pack(f"<{_WAV_N}h", *samples)
        body = b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
        body += b"data" + _s.pack("<I", len(data)) + data
        return b"RIFF" + _s.pack("<I", len(body)) + body

    return _doc_blobs(docs, _wav)


def q51_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_audio_stats(_synth_wav(docs))


Q51_SQL = f"""
SELECT doc_id,
       {_WAV_RATE} AS sample_rate,
       CAST({_WAV_N} AS BIGINT) AS n_samples,
       CAST(list_max(abss) AS INT) AS peak,
       list_sum(abss) / {_WAV_N}.0 AS mean_abs
FROM (
  SELECT doc_id,
         list_transform(range(0, {_WAV_N}),
                        k -> abs((doc_id*37 + k*115) % 4001 - 2000)) AS abss
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# q52 — train/eval decontamination: training docs (source != 'src0')
# sharing ≥1 word 5-gram with the eval set (source = 'src0').  Hash-keyed
# candidate join + string verify (operators/decontaminate.py) — the
# GPT-3-style n-gram hygiene pass.
# ---------------------------------------------------------------------------

_DECON_N = 4


def q52_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    eval_df = docs.filter(F.col("source") == "src0")
    return decontaminate.contamination(train, eval_df, n=_DECON_N)


Q52_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
), g AS (
  SELECT doc_id, source,
         array_to_string(t[k + 1 : k + {_DECON_N}], ' ') AS gram
  FROM toks, unnest(range(0, greatest(len(t) - {_DECON_N - 1}, 0))) AS u(k)
), tg AS (
  SELECT DISTINCT doc_id, gram FROM g WHERE source <> 'src0'
), eg AS (
  SELECT DISTINCT gram FROM g WHERE source = 'src0'
)
SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM tg JOIN eg USING (gram)
GROUP BY tg.doc_id
"""


# ---------------------------------------------------------------------------
# q53 — Gopher-style repetition quality: per-doc top-token and top-bigram
# frequency share (degenerate-text signals for corpus filtering).
# ---------------------------------------------------------------------------

def q53_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return decontaminate.repetition_metrics(docs)


Q53_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), tc AS (
  SELECT doc_id, u.tok, count(*) AS c
  FROM toks, unnest(t) AS u(tok) GROUP BY doc_id, u.tok
), ta AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_tok
  FROM tc GROUP BY doc_id
), bgr AS (
  SELECT doc_id, array_to_string(t[k + 1 : k + 2], ' ') AS bg
  FROM toks, unnest(range(0, greatest(len(t) - 1, 0))) AS u(k)
), bc AS (
  SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY doc_id, bg
), ba AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram
  FROM bc GROUP BY doc_id
)
SELECT ta.doc_id, ta.n_tokens,
       ta.top_tok / ta.n_tokens AS top_tok_frac,
       ba.top_bigram / ba.n_bigrams AS top_bigram_frac
FROM ta LEFT JOIN ba ON ta.doc_id = ba.doc_id
"""


# ---------------------------------------------------------------------------
# q54 — per-domain document caps (C4/RefinedWeb-style: bound every
# source's contribution).  Deterministic md5 priority so both engines
# pick identical winners; WindowGroupLimit keeps the shuffle bounded.
# ---------------------------------------------------------------------------

_CAP_PER_SOURCE = 10


def q54_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return decontaminate.cap_per_group(
        docs, "source", _CAP_PER_SOURCE, id_col="doc_id", salt="cap"
    )


Q54_SQL = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR))
         ) AS rk
  FROM documents
) WHERE rk <= {_CAP_PER_SOURCE}
"""


# ---------------------------------------------------------------------------
# q55 — BM25 top-k retrieval (operators/retrieval.py)
# ---------------------------------------------------------------------------

BM25_TERMS = ["spark", "join", "window", "hash"]
BM25_K = 20


def q55_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return retrieval.bm25_topk(docs, BM25_TERMS, k=BM25_K)


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in sorted(set(BM25_TERMS)))
_BM25_SCORE_SQL = " + ".join(
    f"coalesce(s{i}, 0.0)" for i in range(len(sorted(set(BM25_TERMS))))
)
_BM25_CASE_SQL = ",\n         ".join(
    f"sum(CASE WHEN t = '{t}' THEN s END) AS s{i}"
    for i, t in enumerate(sorted(set(BM25_TERMS)))
)

# BM25 scoring CTE chain (through `per_term`) — shared by Q55 and the
# q96 RRF oracle.
_BM25_CTE = f"""
WITH tok AS (
  SELECT doc_id AS id, unnest(string_split({_NORM_SQL.format(x='text')}, ' ')) AS t
  FROM documents WHERE text IS NOT NULL
), dl AS (
  SELECT id, count(*) AS dl FROM tok GROUP BY id
), navg AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
), tf AS (
  SELECT id, t, count(*) AS tf FROM tok
  WHERE t IN ({_BM25_TERMS_SQL}) GROUP BY id, t
), dfreq AS (
  SELECT t, count(*) AS df FROM tf GROUP BY t
), idf AS (
  SELECT t, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
  FROM dfreq, navg
), part AS (
  SELECT tf.id, tf.t,
         idf.idf * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / idf.avgdl)) AS s
  FROM tf JOIN dl ON tf.id = dl.id JOIN idf ON tf.t = idf.t
), per_term AS (
  SELECT id,
         {_BM25_CASE_SQL}
  FROM part GROUP BY id
)
"""

Q55_SQL = _BM25_CTE + f"""
SELECT id AS doc_id, round(0.0 + {_BM25_SCORE_SQL}, 6) AS bm25
FROM per_term
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_K}
"""


# ---------------------------------------------------------------------------
# q56 — bigram-familiarity quality proxy (operators/text_analysis.py)
# ---------------------------------------------------------------------------

_FAMILIAR_MIN_DF = 3


def q56_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.bigram_familiarity(docs, min_df=_FAMILIAR_MIN_DF)


Q56_SQL = f"""
WITH d AS (
  SELECT doc_id AS id, string_split({_NORM_SQL.format(x='text')}, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
), g AS (
  SELECT id, unnest(list_transform(
           range(1, greatest(len(toks) - 1, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + 1), ' ')
         )) AS g
  FROM d
), per_doc AS (
  SELECT id, g, count(*) AS tf FROM g GROUP BY id, g
), docfreq AS (
  SELECT g, count(*) AS df FROM per_doc GROUP BY g
), agg AS (
  SELECT p.id,
         sum(p.tf) AS n_bigrams,
         sum(CASE WHEN f.df >= {_FAMILIAR_MIN_DF} THEN p.tf ELSE 0 END) AS n_familiar
  FROM per_doc p LEFT JOIN docfreq f ON p.g = f.g
  GROUP BY p.id
)
SELECT doc_id,
       CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(a.n_familiar, 0) AS BIGINT) AS n_familiar,
       CASE WHEN a.n_bigrams > 0
            THEN CAST(a.n_familiar AS DOUBLE) / CAST(a.n_bigrams AS DOUBLE)
       END AS familiarity
FROM documents LEFT JOIN agg a ON documents.doc_id = a.id
"""


# ---------------------------------------------------------------------------
# q57 — product-quantization ADC top-k (operators/similarity.py)
# ---------------------------------------------------------------------------


def q57_pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(emb, dim=EMB_DIM, k=10)


_PQ_U = ("('0x' || substr(md5({key}), 1, 8))::BIGINT"
         " / 4294967295.0 * 2.0 - 1.0")

Q57_SQL = f"""
WITH cb AS (  -- deterministic codebook: md5-uniform(pq:m:c:j)
  SELECT m.m, c.c, j.j,
         {_PQ_U.format(key="'pq:' || m.m || ':' || c.c || ':' || j.j")} AS w
  FROM range(0, 8) m(m), range(0, 16) c(c), range(0, 8) j(j)
), cent AS (
  SELECT m, c, list(w ORDER BY j) AS cent FROM cb GROUP BY m, c
), subs AS (
  SELECT e.vec_id AS id, m.m,
         list_transform(
           list_slice(e.embedding, m.m * 8 + 1, m.m * 8 + 8),
           x -> x::DOUBLE) AS sv
  FROM embeddings e, range(0, 8) m(m)
  WHERE e.embedding IS NOT NULL
), dist AS (
  SELECT s.id, s.m, ct.c,
         list_sum(list_transform(range(1, 9),
           i -> (s.sv[i] - ct.cent[i]) * (s.sv[i] - ct.cent[i]))) AS dist
  FROM subs s JOIN cent ct ON s.m = ct.m
), code AS (
  SELECT id, m, c FROM (
    SELECT id, m, c,
           row_number() OVER (PARTITION BY id, m ORDER BY dist, c) AS rk
    FROM dist
  ) WHERE rk = 1
), qv AS (  -- deterministic query vector: md5-uniform(pqq:d)
  SELECT d.d, {_PQ_U.format(key="'pqq:' || d.d")} AS q
  FROM range(0, 64) d(d)
), qd AS (   -- q -> centroid lookup table
  SELECT ct.m, ct.c,
         list_sum(list_transform(range(1, 9),
           i -> (qs.qs[i] - ct.cent[i]) * (qs.qs[i] - ct.cent[i]))) AS qdist
  FROM cent ct JOIN (
    SELECT m.m, list(qv.q ORDER BY qv.d) AS qs
    FROM range(0, 8) m(m) JOIN qv ON qv.d >= m.m * 8 AND qv.d < m.m * 8 + 8
    GROUP BY m.m
  ) qs ON ct.m = qs.m
), scored AS (
  SELECT code.id, code.m, qd.qdist, code.c
  FROM code JOIN qd ON code.m = qd.m AND code.c = qd.c
), per_sub AS (
  SELECT id,
         {", ".join(f"sum(CASE WHEN m = {m} THEN qdist END) AS d{m}" for m in range(8))},
         {", ".join(f"sum(CASE WHEN m = {m} THEN c END) AS c{m}" for m in range(8))}
  FROM scored GROUP BY id
)
SELECT id AS vec_id,
       concat_ws('-', {", ".join(f"CAST(CAST(c{m} AS INT) AS VARCHAR)" for m in range(8))}) AS pq_code,
       round(0.0 + {" + ".join(f"d{m}" for m in range(8))}, 6) AS adc
FROM per_sub
ORDER BY adc, vec_id
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q58 — snapshot diff / CDC delta (operators/cdc.py)
# ---------------------------------------------------------------------------


def q58_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta between two synthesized snapshots of ``orders``: keys
    divisible by 7 are missing from the old snapshot (→ inserts), by 11
    from the new (→ deletes); keys divisible by 5 carry a price bump
    and a status flip in the new snapshot (→ updates).  Exact-decimal
    price arithmetic so both engines compare identical values."""
    o = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    old = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        price.alias("o_totalprice"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    )
    bumped = F.col("o_orderkey") % 5 == 0
    new = o.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.when(bumped, price + F.lit("1.00").cast("decimal(3,2)"))
        .otherwise(price)
        .alias("o_totalprice"),
        F.when(bumped, F.lit("X")).otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.col("o_orderpriority"),
    )
    return cdc.snapshot_diff(
        old, new, "o_orderkey",
        ["o_totalprice", "o_orderstatus", "o_orderpriority"],
    )


Q58_SQL = """
WITH snap_old AS (
  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
         o_orderstatus AS status, o_orderpriority AS prio
  FROM orders WHERE o_orderkey % 7 <> 0
), snap_new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(o_totalprice AS DECIMAL(12,2)) + CAST('1.00' AS DECIMAL(3,2))
              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price,
         CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS status,
         o_orderpriority AS prio
  FROM orders WHERE o_orderkey % 11 <> 0
), j AS (
  SELECT coalesce(o.k, n.k) AS o_orderkey,
         o.k IS NOT NULL AS in_old, n.k IS NOT NULL AS in_new,
         concat_ws(',',
           CASE WHEN NOT (o.prio IS NOT DISTINCT FROM n.prio)
                THEN 'o_orderpriority' END,
           CASE WHEN NOT (o.status IS NOT DISTINCT FROM n.status)
                THEN 'o_orderstatus' END,
           CASE WHEN NOT (o.price IS NOT DISTINCT FROM n.price)
                THEN 'o_totalprice' END) AS cc
  FROM snap_old o FULL OUTER JOIN snap_new n ON o.k = n.k
), typed AS (
  SELECT o_orderkey,
         CASE WHEN NOT in_old THEN 'insert'
              WHEN NOT in_new THEN 'delete'
              WHEN cc <> '' THEN 'update' END AS change_type,
         CASE WHEN in_old AND in_new THEN cc ELSE '' END AS changed_cols
  FROM j
)
SELECT o_orderkey, change_type, changed_cols
FROM typed WHERE change_type IS NOT NULL
"""


# ---------------------------------------------------------------------------
# q59 — corpus token-id encoding (operators/vocab.py:encode_corpus)
# ---------------------------------------------------------------------------


def q59_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    voc = vocab.build_vocab(docs, top_n=VOCAB_N)
    return vocab.encode_corpus(docs, voc)


Q59_SQL = f"""
WITH tk AS (
  SELECT doc_id, unnest(list_distinct(str_split_regex(text, '\\s+'))) AS token
  FROM documents
), df_ AS (
  SELECT token, count(*) AS doc_freq
  FROM tk WHERE token <> ''
  GROUP BY token
), voc AS (
  SELECT token,
         row_number() OVER (ORDER BY doc_freq DESC, token) AS token_id
  FROM df_
  QUALIFY token_id <= {VOCAB_N}
), d AS (
  SELECT doc_id AS id,
         list_filter(str_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents WHERE text IS NOT NULL
), pos AS (  -- parallel unnests zip in DuckDB: (token, position)
  SELECT id, unnest(w) AS token, unnest(range(1, len(w) + 1)) AS pos
  FROM d
), mapped AS (
  SELECT p.id, p.pos, coalesce(v.token_id, 0) AS tid
  FROM pos p LEFT JOIN voc v ON p.token = v.token
), enc AS (
  SELECT id, count(*) AS n_tokens,
         sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS n_oov,
         string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids
  FROM mapped GROUP BY id
)
SELECT doc_id,
       CAST(coalesce(e.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(e.n_oov, 0) AS BIGINT) AS n_oov,
       coalesce(e.ids, '') AS ids
FROM documents LEFT JOIN enc e ON documents.doc_id = e.id
"""


# ---------------------------------------------------------------------------
# q60 — dataset mixing: sample each source to an even share of a global
# character budget (operators/splits.py:sample_to_budget)
# ---------------------------------------------------------------------------

_MIX_BUDGET = 60_000  # chars


def q60_sample_to_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = splits.sample_to_budget(docs, "source", "n_chars", _MIX_BUDGET)
    return out.select("doc_id", "source", "n_chars", "keep_rate")


Q60_SQL = f"""
WITH totals AS (
  SELECT source AS g, CAST(sum(n_chars) AS DOUBLE) AS total_w
  FROM documents GROUP BY source
), alloc AS (
  SELECT {float(_MIX_BUDGET)} / CAST(count(*) AS DOUBLE) AS alloc FROM totals
), rates AS (
  SELECT g, least(1.0, alloc / total_w) AS keep_rate FROM totals, alloc
), u AS (
  SELECT doc_id, source, n_chars,
         ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967295.0 AS u
  FROM documents
)
SELECT u.doc_id, u.source, u.n_chars, r.keep_rate
FROM u JOIN rates r ON u.source = r.g
WHERE u.u < r.keep_rate
"""


# ---------------------------------------------------------------------------
# q61 — event-time trailing-range window: per event, that user's count
# and exact-decimal value sum over the preceding 30 minutes.  RANGE (not
# ROWS) framing: peers with the same truncated-second timestamp share
# one frame, so the result is tie-order-independent.
# ---------------------------------------------------------------------------


def q61_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-1800, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("trailing_cnt_30m"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_sum_30m"),
    )


Q61_SQL = """
SELECT event_id, user_id, ts,
       count(*) OVER w AS trailing_cnt_30m,
       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
         AS trailing_sum_30m
FROM events
WINDOW w AS (
  PARTITION BY user_id
  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
  RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW
)
"""


# ---------------------------------------------------------------------------
# q62 — join-key skew diagnosis (operators/skew.py:key_histogram)
# ---------------------------------------------------------------------------


def q62_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return skew.key_histogram(li, "l_suppkey", k=10)


Q62_SQL = """
WITH counts AS (
  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
), total AS (
  SELECT sum(cnt) AS total FROM counts
)
SELECT l_suppkey, CAST(cnt AS BIGINT) AS cnt,
       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
FROM counts, total
ORDER BY cnt DESC, l_suppkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q63 — hashed-linear quality classifier (operators/curation.py)
# ---------------------------------------------------------------------------

_QCLS_BUCKETS = 1024
_QCLS_SCALE = 1000


def q63_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return curation.hashed_linear_score(
        docs, n_buckets=_QCLS_BUCKETS, weight_scale=_QCLS_SCALE
    )


Q63_SQL = f"""
WITH weights AS (
  SELECT b.b AS bucket,
         ('0x' || substr(md5('qw:' || b.b), 1, 8))::BIGINT
           % {2 * _QCLS_SCALE + 1} - {_QCLS_SCALE} AS w
  FROM range(0, {_QCLS_BUCKETS}) b(b)
), tok AS (
  SELECT doc_id AS id, unnest(string_split({_NORM_SQL.format(x='text')}, ' ')) AS t
  FROM documents WHERE text IS NOT NULL
), bucketed AS (
  SELECT id,
         ('0x' || substr(md5(t), 1, 8))::BIGINT % {_QCLS_BUCKETS} AS bucket
  FROM tok
), summed AS (
  SELECT b.id, count(*) AS n_tokens, sum(w.w) AS s
  FROM bucketed b JOIN weights w ON b.bucket = w.bucket
  GROUP BY b.id
), scored AS (
  SELECT id, n_tokens,
         CAST(s AS DOUBLE) / ({float(_QCLS_SCALE)} * CAST(n_tokens AS DOUBLE)) AS logit
  FROM summed
)
SELECT doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       s.logit AS logit,
       s.logit > 0 AS keep
FROM documents LEFT JOIN scored s ON documents.doc_id = s.id
"""


# ---------------------------------------------------------------------------
# q64 — the training-data funnel end-to-end, ONE composed lazy plan:
# curate (quality → lang → dedup) → overlapping chunks → greedy packing
# into token-budget bins → per-bin utilization.  Every stage is
# individually oracle-checked (q34, q37, q40); this query proves the
# COMPOSITION stays correct and planar (no materialization between
# stages — Catalyst sees one tree from parquet scan to bin stats).
# ---------------------------------------------------------------------------


def q64_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # persisted: the chunker and the source-lookup join both read the
    # curated slice — without this the whole quality→lang→dedup funnel
    # computes twice.  At cluster scale this becomes a checkpoint.
    curated = (
        curation.curate_corpus(docs, min_quality=CURATE_MIN_Q, langs=("en",))
        .select("doc_id", "source", "text")
        .transform(cached)
    )
    chunks = chunking.chunk_tokens(
        curated, chunk_size=CHUNK_SIZE, stride=CHUNK_STRIDE
    )
    keyed = chunks.join(
        curated.select(F.col("doc_id").alias("id"), "source"), "id"
    ).select(
        "source",
        # composite chunk key: chunks per doc are bounded far below 1000
        # (CHUNK_STRIDE=24 ⇒ <1000 chunks needs <24k tokens/doc)
        (F.col("id") * 1000 + F.col("chunk_id")).alias("ckey"),
        "chunk_text",
    )
    packed = chunking.pack_sequences(
        keyed,
        group_col="source",
        id_col="ckey",
        text_col="chunk_text",
        budget=PACK_BUDGET,
    )
    return (
        packed.groupBy(F.col("grp").alias("source"), "bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.max("bin_fill").cast("long").alias("bin_tokens"),
        )
        .select(
            "source",
            "bin_id",
            "n_chunks",
            "bin_tokens",
            (F.col("bin_tokens") / F.lit(float(PACK_BUDGET))).alias("utilization"),
        )
    )


def _q64_oracle_sql() -> str:
    curated_sql = Q34_SQL.strip()
    return f"""
WITH RECURSIVE curated AS ({curated_sql}),
survivors AS (
  SELECT c.doc_id, c.source, d.text
  FROM curated c JOIN documents d USING (doc_id)
), s2 AS (
  SELECT doc_id, source, str_split_regex(text, '\\s+') AS toks,
         len(str_split_regex(text, '\\s+')) AS n
  FROM survivors
), e2 AS (
  SELECT doc_id, source, toks, n,
         CASE WHEN n > {CHUNK_SIZE}
              THEN (n - {CHUNK_SIZE} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
              ELSE 0 END AS extra
  FROM s2
), r2 AS (
  SELECT doc_id, source, toks, n,
         unnest(generate_series(0, extra)) AS chunk_id
  FROM e2
), c AS (  -- n_tokens by re-splitting chunk_text, mirroring pack_sequences
  SELECT source, doc_id * 1000 + chunk_id AS ckey,
         len(str_split_regex(array_to_string(
           list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                      chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' '),
           '\\s+'))::BIGINT AS n_tokens
  FROM r2
), d2 AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: the recursive step below references
  -- d2 once per iteration, and DuckDB inlines plain CTEs — without it
  -- the whole curate→chunk pipeline re-evaluates per recursion step
  -- (~200s); materialized it runs once (~2s).
  SELECT source, ckey, n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY ckey) AS rn
  FROM c
), p AS (
  SELECT source, ckey, n_tokens, rn, 0::BIGINT AS bin_id, n_tokens AS bin_fill
  FROM d2 WHERE rn = 1
  UNION ALL
  SELECT d2.source, d2.ckey, d2.n_tokens, d2.rn,
         CASE WHEN p.bin_fill + d2.n_tokens > {PACK_BUDGET}
              THEN p.bin_id + 1 ELSE p.bin_id END AS bin_id,
         CASE WHEN p.bin_fill + d2.n_tokens > {PACK_BUDGET}
              THEN d2.n_tokens ELSE p.bin_fill + d2.n_tokens END AS bin_fill
  FROM p JOIN d2 ON d2.source = p.source AND d2.rn = p.rn + 1
)
SELECT source, bin_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(max(bin_fill) AS BIGINT) AS bin_tokens,
       CAST(max(bin_fill) AS BIGINT) / {float(PACK_BUDGET)} AS utilization
FROM p GROUP BY source, bin_id
"""


Q64_SQL = _q64_oracle_sql()


# ---------------------------------------------------------------------------
# q65 — per-group stats drift between the q58 snapshots: the monitoring
# counterpart of the CDC delta (did the data change SHAPE, not just rows)
# ---------------------------------------------------------------------------

_DRIFT_T = 100.0  # dollars of mean o_totalprice movement per priority


def q65_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 7 != 0)
    price = F.col("o_totalprice").cast("decimal(12,2)")
    new = o.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % 5 == 0,
            price + F.lit("1.00").cast("decimal(3,2)"),
        )
        .otherwise(price)
        .cast("double")
        .alias("o_totalprice"),
    )
    return profile.group_drift(
        old, new, "o_orderpriority", "o_totalprice", abs_threshold=_DRIFT_T
    )


Q65_SQL = f"""
WITH o_side AS (
  SELECT o_orderpriority AS g, count(*) AS n_old,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mean_old
  FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY 1
), n_side AS (
  SELECT o_orderpriority AS g, count(*) AS n_new,
         CAST(sum(CAST(
           CASE WHEN o_orderkey % 5 = 0
                THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                          + CAST('1.00' AS DECIMAL(3,2)) AS DOUBLE)
                ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
           END AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mean_new
  FROM orders WHERE o_orderkey % 11 <> 0 GROUP BY 1
)
SELECT coalesce(o.g, n.g) AS o_orderpriority,
       CAST(coalesce(o.n_old, 0) AS BIGINT) AS n_old,
       CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
       o.mean_old AS mean_old,
       n.mean_new AS mean_new,
       n.mean_new - o.mean_old AS mean_delta,
       (o.mean_old IS NULL OR n.mean_new IS NULL
        OR abs(n.mean_new - o.mean_old) > {_DRIFT_T}) AS drifted
FROM o_side o FULL OUTER JOIN n_side n ON o.g = n.g
"""


# ---------------------------------------------------------------------------
# q66 — contrastive (anchor, positive, negative) triplet mining from the
# MinHash near-dup pairs (operators/decontaminate.py:contrastive_pairs)
# ---------------------------------------------------------------------------

_NEG_K = 2


def q66_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # contrastive_pairs reads the pair list three times (anchors + both
    # orientations of the negative-leak anti-join); persist the tiny
    # (id_a, id_b) output so the LSH funnel runs once (guide §2.4)
    pairs = cached(
        dedup.minhash_lsh_pairs(
            docs,
            shingle_n=SHINGLE_N,
            num_hashes=MINHASH_N,
            bands=MINHASH_BANDS,
            jaccard_threshold=JACCARD_T,
        ).select("id_a", "id_b")
    )
    return decontaminate.contrastive_pairs(docs, pairs, n_negatives=_NEG_K)


Q66_SQL = f"""
WITH mh AS (
  SELECT id_a, id_b FROM ({Q13_SQL}) m
), anchors AS (
  SELECT id_a AS anchor, id_b AS positive FROM mh
), n_tbl AS (
  SELECT count(*) AS n FROM documents
), idx AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY doc_id) - 1 AS idx
  FROM documents
), expanded AS (
  SELECT anchor, positive, j.j AS j
  FROM anchors, range(0, {_NEG_K}) j(j)
), cand AS (
  SELECT e.anchor, e.positive, e.j, i.doc_id AS negative
  FROM expanded e
  CROSS JOIN n_tbl
  JOIN idx i
    ON (('0x' || substr(md5('neg:' || CAST(e.anchor AS VARCHAR)
                             || ':' || CAST(e.j AS VARCHAR)), 1, 8))::BIGINT
        % n_tbl.n) = i.idx
  WHERE i.doc_id <> e.anchor AND i.doc_id <> e.positive
), sym AS (
  SELECT id_a AS pa, id_b AS pb FROM mh
  UNION ALL
  SELECT id_b AS pa, id_a AS pb FROM mh
)
SELECT c.anchor, c.positive, c.j, c.negative
FROM cand c
WHERE NOT EXISTS (
  SELECT 1 FROM sym s WHERE s.pa = c.anchor AND s.pb = c.negative
)
"""


# ---------------------------------------------------------------------------
# q67 — strict-order funnel conversion over events
# (streaming/events.py:funnel_conversion)
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]


def q67_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.streaming import events as ev

    e = _t(spark, sf_dir, "events")
    return ev.funnel_conversion(e, _FUNNEL_STEPS)


Q67_SQL = """
WITH f0 AS (
  SELECT user_id AS u, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), f1 AS (
  SELECT e.user_id AS u, min(e.ts) AS t
  FROM events e JOIN f0 ON e.user_id = f0.u
  WHERE e.event_type = 'click' AND e.ts >= f0.t
  GROUP BY e.user_id
), f2 AS (
  SELECT e.user_id AS u, min(e.ts) AS t
  FROM events e JOIN f1 ON e.user_id = f1.u
  WHERE e.event_type = 'purchase' AND e.ts >= f1.t
  GROUP BY e.user_id
), n AS (
  SELECT (SELECT count(*) FROM f0) AS n0,
         (SELECT count(*) FROM f1) AS n1,
         (SELECT count(*) FROM f2) AS n2
)
SELECT 0 AS step_idx, 'view' AS step, n0 AS n_users,
       CAST(NULL AS DOUBLE) AS conversion_from_prev FROM n
UNION ALL
SELECT 1, 'click', n1, CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM n
UNION ALL
SELECT 2, 'purchase', n2, CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM n
"""


# ---------------------------------------------------------------------------
# q68 — weekly cohort retention (streaming/events.py:cohort_retention)
# ---------------------------------------------------------------------------


def q68_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.streaming import events as ev

    return ev.cohort_retention(_t(spark, sf_dir, "events"), max_offset_weeks=3)


Q68_SQL = """
WITH e AS (
  SELECT user_id AS u,
         CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w
  FROM events
), first_wk AS (
  SELECT u, min(w) AS cw FROM e GROUP BY u
), act AS (
  SELECT DISTINCT f.cw, e.w - f.cw AS off, e.u
  FROM e JOIN first_wk f ON e.u = f.u
  WHERE e.w - f.cw <= 3
), ret AS (
  SELECT cw, off, count(*) AS n_active FROM act GROUP BY cw, off
), size_ AS (
  SELECT cw, count(*) AS cohort_size FROM first_wk GROUP BY cw
)
SELECT r.cw AS cohort_week, r.off AS weeks_later,
       s.cohort_size, r.n_active,
       CAST(r.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
FROM ret r JOIN size_ s ON r.cw = s.cw
"""


# ---------------------------------------------------------------------------
# q69 — exact-substring duplication spans (tile dedup accounting,
# operators/dedup.py:substring_dup_spans).  Same 16-char tiling as q20 but
# position-aware: runs of duplicated tiles merge into per-doc spans.
# ---------------------------------------------------------------------------


def q69_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.substring_dup_spans(docs, window=ROLL_W)


Q69_SQL = f"""
WITH n AS (
  SELECT doc_id AS id, {_NORM} AS s FROM documents
), t AS (
  SELECT id, u.pos AS pos, u.fp AS fp FROM (
    SELECT id, unnest(list_transform(
             range(0, greatest(CAST(ceil(length(s) / {ROLL_W}.0) AS INTEGER), 1)),
             i -> struct_pack(pos := i, fp := md5(substr(s, i * {ROLL_W} + 1, {ROLL_W})))
           )) AS u
    FROM n)
), dupfp AS (
  SELECT fp FROM t GROUP BY fp HAVING count(*) > 1
), d AS (
  SELECT id, pos FROM t WHERE fp IN (SELECT fp FROM dupfp)
), isl AS (
  SELECT id, pos,
         pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS g
  FROM d
), sp AS (
  SELECT id, g, count(*) AS tiles FROM isl GROUP BY id, g
), pd AS (
  SELECT id, count(*) AS n_spans, CAST(sum(tiles) AS BIGINT) AS dup_tiles
  FROM sp GROUP BY id
), tot AS (
  SELECT id, count(*) AS total_tiles FROM t GROUP BY id
)
SELECT tot.id AS doc_id, tot.total_tiles,
       COALESCE(pd.dup_tiles, 0) AS dup_tiles,
       COALESCE(pd.n_spans, 0) AS n_spans,
       CAST(COALESCE(pd.dup_tiles, 0) AS DOUBLE)
         / CAST(tot.total_tiles AS DOUBLE) AS dup_frac
FROM tot LEFT JOIN pd ON tot.id = pd.id
"""


# ---------------------------------------------------------------------------
# q70 — semantic dedup (SemDeDup: IVF-cell partition + within-cell
# cosine drop, operators/dedup.py:semantic_dedup).  Deterministic
# end-to-end: literal centroids (vec_id 1..32), argmax tie → cell DESC
# (Spark array_max semantics, replayed by the oracle's row_number),
# drop rule keyed on the unique vec_id order.
# ---------------------------------------------------------------------------

# 0.35 sits just inside the synthetic corpus's within-cell cosine tail
# (p99 ≈ 0.355, max ≈ 0.49 at sf0.01) so the drop rule actually fires;
# a production corpus would use ~0.95 per the SemDeDup paper.
SEMDEDUP_T = 0.35
SEMDEDUP_NCENT = 32


def q70_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    crows = (
        emb.filter(F.col("vec_id").isin(list(range(1, SEMDEDUP_NCENT + 1))))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    centroids = [list(r["embedding"]) for r in crows]
    return dedup.semantic_dedup(emb, centroids, threshold=SEMDEDUP_T)


Q70_SQL = f"""
WITH cent AS (
  SELECT vec_id - 1 AS cell, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id BETWEEN 1 AND {SEMDEDUP_NCENT}
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY (list_sum(list_transform(range(1, len(e.embedding) + 1),
                                i -> e.embedding[i]::DOUBLE * c.cv[i]))
                       / (sqrt(list_sum(list_transform(e.embedding,
                                        x -> x::DOUBLE * x::DOUBLE)))
                          * sqrt(list_sum(list_transform(c.cv, x -> x * x))))) DESC,
                      c.cell DESC
           ) AS rn
    FROM embeddings e, cent c
  ) WHERE rn = 1
), u AS (
  SELECT vec_id AS id,
         CASE WHEN sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) > 0
              THEN list_transform(
                     embedding::DOUBLE[],
                     x -> x * (1.0 / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))))
         END AS v
  FROM embeddings
), dropped AS (
  SELECT DISTINCT r.vec_id AS id
  FROM assigned l JOIN assigned r ON l.cell = r.cell AND l.vec_id < r.vec_id
  JOIN u ul ON ul.id = l.vec_id
  JOIN u ur ON ur.id = r.vec_id
  WHERE round(list_sum(list_transform(range(1, len(ul.v) + 1),
                       i -> ul.v[i] * ur.v[i])), 6) >= {SEMDEDUP_T}
)
SELECT a.cell AS ivf_cell,
       count(*) AS n_vectors,
       CAST(count(d.id) AS BIGINT) AS n_dropped,
       count(*) - CAST(count(d.id) AS BIGINT) AS n_kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.id
GROUP BY a.cell
"""


# ---------------------------------------------------------------------------
# q71 — incremental aggregate maintenance (materialized-view refresh from a
# CDC delta, operators/cdc.py:apply_delta_to_agg).  The Spark path maintains
# the grouped (count, sum) from OLD state + delta only; the oracle recomputes
# the aggregate from the NEW snapshot from scratch — the two must agree
# exactly (decimal sums are associative, so order of application is free).
# Snapshots reuse q58's synthesis, plus a group MOVE: bumped keys land in a
# brand-new '9-MOVED' priority, exercising insert-into-unseen-group.
# ---------------------------------------------------------------------------


def q71_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    old = o.filter(key % 7 != 0).select(
        "o_orderkey", "o_orderpriority", price.alias("price")
    )
    bumped = key % 5 == 0
    new = o.filter(key % 11 != 0).select(
        "o_orderkey",
        F.when(bumped, F.lit("9-MOVED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        F.when(bumped, price + F.lit("1.00").cast("decimal(3,2)"))
        .otherwise(price)
        .alias("price"),
    )
    old_agg = old.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("price").alias("total")
    )
    delta = cdc.delta_rows(old, new, "o_orderkey", ["o_orderpriority", "price"])
    out = cdc.apply_delta_to_agg(old_agg, delta, "o_orderpriority", "price")
    return out.select(
        "o_orderpriority",
        "n_rows",
        F.col("total").cast("decimal(38,2)")
        .cast("string").cast("double").alias("total"),
    )


Q71_SQL = """
WITH new_snap AS (
  SELECT CASE WHEN o_orderkey % 5 = 0 THEN '9-MOVED'
              ELSE o_orderpriority END AS o_orderpriority,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(o_totalprice AS DECIMAL(12,2)) + CAST('1.00' AS DECIMAL(3,2))
              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
  FROM orders WHERE o_orderkey % 11 <> 0
)
SELECT o_orderpriority,
       count(*) AS n_rows,
       CAST(CAST(CAST(sum(price) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS total
FROM new_snap GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q72 — fuzzy edit-distance join (operators/fuzzy_join.py): entity
# resolution of deterministically-corrupted part names (one char deleted
# at a key-derived position) back against the clean catalog, levenshtein
# <= 2, q-gram count filter + broadcast short-string fallback.  The
# oracle is the NAIVE cross join — losslessness is the assertion.
#
# The match runs on DISTINCT name strings (the standard blocking step:
# the q-gram index sees each string once, never once per row), and each
# name-pair row carries ``n_pairs`` = how many id-level (dirty, clean)
# pairs it represents.  Materializing the id×id expansion would be
# output-quadratic on low-cardinality name columns (this testdata has
# 64 distinct names over 20k parts at sf0.1 — ~10M id pairs) and is a
# plain multiplicity join the caller can do; the HARD part — the
# similarity join — is what the operator does, on the collapsed domain.
# ---------------------------------------------------------------------------

FUZZY_D = 2


def q72_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    pos = (F.col("p_partkey") % 10 + 3).cast("int")
    dirty = p.select(
        F.concat(
            F.substring(F.col("p_name"), F.lit(1), pos - 1),
            F.substring(F.col("p_name"), pos + 1, F.length("p_name")),
        ).alias("d_name"),
    ).groupBy("d_name").agg(F.count(F.lit(1)).alias("n_dirty"))
    clean = (
        p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_clean"))
    )
    pairs = fuzzy_join.edit_distance_join(
        dirty.select(F.col("d_name")),
        clean.select(F.col("p_name")),
        "d_name",
        "p_name",
        "d_name",
        "p_name",
        max_dist=FUZZY_D,
    )
    return (
        pairs.join(F.broadcast(dirty), "d_name")
        .join(F.broadcast(clean), "p_name")
        .select(
            "d_name",
            "p_name",
            "dist",
            (F.col("n_dirty") * F.col("n_clean")).alias("n_pairs"),
        )
    )


Q72_SQL = f"""
WITH dirty AS (
  SELECT substr(p_name, 1, (p_partkey % 10) + 2) ||
         substr(p_name, (p_partkey % 10) + 4) AS d_name
  FROM part
), dn AS (
  SELECT d_name, count(*) AS n_dirty FROM dirty GROUP BY d_name
), cn AS (
  SELECT p_name, count(*) AS n_clean FROM part GROUP BY p_name
)
SELECT d.d_name, c.p_name, levenshtein(d.d_name, c.p_name) AS dist,
       d.n_dirty * c.n_clean AS n_pairs
FROM dn d, cn c
WHERE abs(length(d.d_name) - length(c.p_name)) <= {FUZZY_D}
  AND levenshtein(d.d_name, c.p_name) <= {FUZZY_D}
"""


# ---------------------------------------------------------------------------
# q73 — interval x interval overlap join (operators/range_join.py:
# interval_overlap_join).  Per-(user, day) activity spans overlapped
# against per-(event_type, week) activity envelopes, all in exact
# integer microseconds.  Grid cells = 1 day; the oracle is the naive
# overlap predicate — exactly-once emission is the assertion.
# ---------------------------------------------------------------------------


def q73_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    a = (
        e.groupBy(F.col("user_id"), F.date_trunc("day", F.col("ts")).alias("__d"))
        .agg(F.min(us).alias("a_lo"), F.max(us).alias("a_hi"))
        .select("user_id", "a_lo", "a_hi")
    )
    b = (
        e.groupBy(F.col("event_type"), F.date_trunc("week", F.col("ts")).alias("__w"))
        .agg(F.min(us).alias("b_lo"), F.max(us).alias("b_hi"))
        .select("event_type", "b_lo", "b_hi")
    )
    out = range_join.interval_overlap_join(
        a, b, "a_lo", "a_hi", "b_lo", "b_hi",
        bucket_width=86_400e6, broadcast_right=True,
    )
    return out.select(
        "user_id",
        "event_type",
        "a_lo",
        "b_lo",
        (
            F.least(F.col("a_hi"), F.col("b_hi"))
            - F.greatest(F.col("a_lo"), F.col("b_lo"))
        ).alias("overlap_us"),
    )


Q73_SQL = """
WITH a AS (
  SELECT user_id, min(epoch_us(ts)) AS a_lo, max(epoch_us(ts)) AS a_hi
  FROM events GROUP BY user_id, date_trunc('day', ts)
), b AS (
  SELECT event_type, min(epoch_us(ts)) AS b_lo, max(epoch_us(ts)) AS b_hi
  FROM events GROUP BY event_type, date_trunc('week', ts)
)
SELECT a.user_id, b.event_type, a.a_lo, b.b_lo,
       least(a.a_hi, b.b_hi) - greatest(a.a_lo, b.b_lo) AS overlap_us
FROM a, b WHERE a.a_lo <= b.b_hi AND b.b_lo <= a.a_hi
"""


# ---------------------------------------------------------------------------
# q74 — equi-depth histogram (operators/stats.py:equi_depth_histogram):
# 8 equal-height buckets of l_extendedprice per l_returnflag, boundaries
# = rank statistics from the distributed value histogram (no global
# sort, no interpolation — every output exact in any engine).
# ---------------------------------------------------------------------------

EQD_B = 8


def q74_equi_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
    )
    out = stats.equi_depth_histogram(li, "l_returnflag", "price", buckets=EQD_B)
    return out.select(
        "l_returnflag",
        F.col("bucket").cast("long").alias("bucket"),
        "n_rows",
        F.col("lo").cast("string").cast("double").alias("lo"),
        F.col("hi").cast("string").cast("double").alias("hi"),
        F.col("total").cast("decimal(38,2)")
        .cast("string").cast("double").alias("total"),
    )


# Shared equi-depth CTE chain (value → bucket assignment `a`), reused
# by Q74 (histogram itself) and Q91 (bucketize-apply).
_EQD_CTE = f"""
WITH h AS (
  SELECT l_returnflag AS grp, CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT grp, v, cnt, sum(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum
  FROM h
), t AS (
  SELECT grp, sum(cnt) AS n FROM h GROUP BY 1
), r AS (
  SELECT grp, CAST(ceil(n * k / {EQD_B}.0) AS BIGINT) AS r
  FROM t, range(1, {EQD_B}) t2(k)
), b AS (
  SELECT c.grp, c.v AS b
  FROM c JOIN r ON c.grp = r.grp AND c.cum >= r.r AND c.cum - c.cnt < r.r
), a AS (
  SELECT h.grp, h.v,
         sum(CASE WHEN b.b < h.v THEN 1 ELSE 0 END) AS bucket,
         min(h.cnt) AS cnt
  FROM h LEFT JOIN b ON h.grp = b.grp
  GROUP BY h.grp, h.v
)
"""

Q74_SQL = _EQD_CTE + """
SELECT grp AS l_returnflag, CAST(bucket AS BIGINT) AS bucket,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(CAST(min(v) AS VARCHAR) AS DOUBLE) AS lo,
       CAST(CAST(max(v) AS VARCHAR) AS DOUBLE) AS hi,
       CAST(CAST(CAST(sum(v * cnt) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS total
FROM a GROUP BY grp, bucket
"""


# ---------------------------------------------------------------------------
# q75 — time-series resample + forward fill (operators/timeseries.py):
# per-user daily max(value) densified onto each user's own day span,
# gaps carry the last observation forward.  max() keeps the double
# metric order-independent, so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------


def q75_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    obs = e.groupBy(
        F.col("user_id"), F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.max("value").alias("value"))
    out = timeseries.resample_ffill(obs, "user_id", "day", "value")
    return out.filter(F.col("user_id") % 10 == 0)


Q75_SQL = """
WITH obs AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         max(value) AS value
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(day) AS lo, max(day) AS hi FROM obs GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
  FROM span
), j AS (
  SELECT g.user_id, g.day, o.value, o.value IS NULL AS is_filled
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day
)
SELECT user_id, day,
       last_value(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       is_filled
FROM j WHERE user_id % 10 = 0
"""


# ---------------------------------------------------------------------------
# q76 — exact-phrase search via positional inverted index
# (operators/retrieval.py:phrase_search).  The oracle replays the same
# offset-vote alignment over DuckDB's positional token list.
# ---------------------------------------------------------------------------

PHRASE = "slow hash batch"


def q76_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return retrieval.phrase_search(docs, PHRASE)


_PHRASE_VALUES = ", ".join(
    f"({i}, '{t}')" for i, t in enumerate(PHRASE.split())
)

Q76_SQL = rf"""
WITH n AS (
  SELECT doc_id AS id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS l FROM documents
), t AS (
  SELECT id, u.pos AS pos, u.tok AS tok FROM (
    SELECT id, unnest(list_transform(range(0, len(l)),
             i -> struct_pack(pos := i, tok := l[i + 1]))) AS u
    FROM n)
), p AS (
  SELECT * FROM (VALUES {_PHRASE_VALUES}) p(off, tok)
), v AS (
  SELECT t.id, t.pos - p.off AS start FROM t JOIN p ON t.tok = p.tok
), h AS (
  SELECT id, start FROM v
  GROUP BY id, start HAVING count(*) = {len(PHRASE.split())} AND start >= 0
)
SELECT id AS doc_id, count(*) AS n_hits, min(start) AS first_pos
FROM h GROUP BY id
"""


# ---------------------------------------------------------------------------
# q77/q78/q79 — the classic TPC-H multi-join shapes (Q3 shipping
# priority, Q5 local-supplier volume, Q10 returned-item reporting),
# adapted to the driver's trimmed schemas.  These exist to prove the
# optimizer story on textbook plans: selective dimension filters
# broadcast into the fact scan, aggregation under top-k, decimal-exact
# revenue ( price(12,2) x (1 - disc(3,2)) summed as decimals — floats
# never enter an aggregate).
# ---------------------------------------------------------------------------

def _revenue() -> Column:
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(3,2)")
    return price * (F.lit("1.00").cast("decimal(3,2)") - disc)


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)


def q77_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped orders of one segment, top 10 by revenue."""
    cutoff = F.lit("1998-07-01").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(_revenue()).cast("decimal(38,4)")
        .cast("string").cast("double").alias("revenue")
    )
    return topk.top_k(
        agg, [F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey")], 10
    )


Q77_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(CAST(CAST(sum({_REV_SQL}) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-07-01'
  AND l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q78_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where customer and supplier
    share the nation, one region, one year.  Dimension chain
    (region -> nation) broadcasts; the two fact-side joins shuffle on
    their keys."""
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.sum(_revenue()).cast("decimal(38,4)")
        .cast("string").cast("double").alias("revenue")
    )


Q78_SQL = f"""
SELECT n_name, CAST(CAST(CAST(sum({_REV_SQL}) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q79_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top 20 customers by revenue lost to returns in
    one quarter."""
    lo = F.lit("1997-10-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == F.col("n_nationkey"))
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(_revenue()).cast("decimal(38,4)")
        .cast("string").cast("double").alias("revenue")
    )
    return topk.top_k(agg, [F.desc("revenue"), F.asc("c_custkey")], 20)


Q79_SQL = f"""
SELECT c_custkey, c_name, n_name,
       CAST(CAST(CAST(sum({_REV_SQL}) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-10-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q80 — triangle counting (operators/graph.py:triangle_counts) over the
# q20 rolling-fingerprint overlap graph: which documents sit in tightly
# closed near-dup neighborhoods (clique-ish boilerplate) vs stars (one
# template touching many docs).
# ---------------------------------------------------------------------------


def q80_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = q20_rolling_overlap(spark, sf_dir).select("id_a", "id_b")
    return graph.triangle_counts(edges)


Q80_SQL = f"""
WITH n AS (
  SELECT doc_id AS id, {_NORM} AS s FROM documents
), w AS (
  SELECT id, list_distinct(list_transform(
           range(0, greatest(CAST(ceil(length(s) / {ROLL_W}.0) AS INTEGER), 1)),
           i -> md5(substr(s, i * {ROLL_W} + 1, {ROLL_W}))
         )) AS fps
  FROM n
), ex AS (
  SELECT id, fp FROM (SELECT id, unnest(fps) AS fp FROM w)
  QUALIFY count(*) OVER (PARTITION BY fp) <= {ROLL_MAX_DF}
), e AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM ex l JOIN ex r ON l.fp = r.fp AND l.id < r.id
), tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, count(*) AS n_triangles FROM corners GROUP BY node
"""


# ---------------------------------------------------------------------------
# q81 — grouped z-score normalization (operators/stats.py:
# grouped_zscore): event value scaled per event_type from exact decimal
# moments; bit-stable doubles per the q49 determinism rules.
# ---------------------------------------------------------------------------


def q81_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    out = stats.grouped_zscore(e, "event_type", "v")
    return out.filter(F.col("event_id") % 20 == 0).select(
        "event_id", "event_type", "z"
    )


Q81_SQL = """
WITH d AS (
  SELECT event_id, event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events
), m AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) AS s,
         CAST(CAST(sum(v * v) AS VARCHAR) AS DOUBLE) AS sxx
  FROM d GROUP BY event_type
)
SELECT d.event_id, d.event_type,
       CASE WHEN m.n > 1 THEN
         (CAST(CAST(d.v AS VARCHAR) AS DOUBLE) - m.s / m.n)
           / sqrt((m.sxx - m.s * m.s / m.n) / (m.n - 1.0))
       END AS z
FROM d JOIN m ON d.event_type = m.event_type
WHERE d.event_id % 20 = 0
"""


# ---------------------------------------------------------------------------
# q82 — SCD2 dimension history (operators/cdc.py:scd2_history): each
# user's event_type runs become versioned [valid_from, valid_to) rows,
# valid_to NULL on the open version.
# ---------------------------------------------------------------------------


def q82_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    out = cdc.scd2_history(
        e.select("user_id", "event_type", "ts", "event_id"),
        "user_id", "event_type", "ts", "event_id",
    )
    return out.filter(F.col("user_id") % 25 == 0)


Q82_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, event_type, ts, event_id
  FROM ordered
  WHERE rn = 1 OR prev IS DISTINCT FROM event_type
)
SELECT user_id, event_type AS value, ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       row_number() OVER w2 AS version
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY user_id % 25 = 0
"""


# ---------------------------------------------------------------------------
# q83 — gaps-and-islands activity streaks (operators/timeseries.py:
# activity_streaks): each user's maximal runs of consecutive active days.
# ---------------------------------------------------------------------------


def q83_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    out = timeseries.activity_streaks(e, "user_id", "ts")
    return out.filter(F.col("streak_days") >= 3)


Q83_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), isl AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS anchor
  FROM days
)
SELECT user_id, min(day) AS streak_start, max(day) AS streak_end,
       count(*) AS streak_days
FROM isl GROUP BY user_id, anchor
HAVING count(*) >= 3
"""


# ---------------------------------------------------------------------------
# q84 — first-order Markov event transitions (operators/timeseries.py:
# transition_matrix): user-journey transition counts + exact-ratio
# probabilities over per-user event sequences.
# ---------------------------------------------------------------------------


def q84_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return timeseries.transition_matrix(
        e, "user_id", "event_type", "ts", "event_id"
    )


Q84_SQL = """
WITH seq AS (
  SELECT event_type AS from_state,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_state
  FROM events
), c AS (
  SELECT from_state, to_state, count(*) AS n
  FROM seq WHERE to_state IS NOT NULL
  GROUP BY from_state, to_state
)
SELECT from_state, to_state, n,
       CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_state) AS p
FROM c
"""


# ---------------------------------------------------------------------------
# q85 — weighted sampling without replacement (operators/splits.py:
# weighted_sample): 3 docs per source, inclusion probability ∝ n_chars
# (Efraimidis–Spirakis A-ES with an md5-uniform keystream).
# ---------------------------------------------------------------------------


def q85_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    out = splits.weighted_sample(
        d.select("doc_id", "source", "n_chars"),
        "source", "n_chars", k=3, id_col="doc_id",
    )
    return out.select("source", "doc_id", "n_chars", "score")


Q85_SQL = """
WITH s AS (
  SELECT source, doc_id, n_chars,
         round(ln((('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)),
                                   1, 8))::BIGINT + 1) / 4294967296.0)
               / CAST(n_chars AS DOUBLE), 9) AS score
  FROM documents
)
SELECT source, doc_id, n_chars, score
FROM s
QUALIFY row_number() OVER (PARTITION BY source
                           ORDER BY score DESC, doc_id) <= 3
"""


# ---------------------------------------------------------------------------
# q86 — large-order customers (TPC-H Q18 shape): HAVING over an
# aggregated fact, then dim joins UNDER a top-k.  The agg runs first so
# only qualifying orderkeys (not line items) reach the joins.
# ---------------------------------------------------------------------------


def q86_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qty = (
        li.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    joined = (
        qty.join(o, qty["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("decimal(18,2)")
            .cast("string").cast("double").alias("o_totalprice"),
            "total_qty",
        )
    )
    return topk.top_k(
        joined, order_by=[F.desc("total_qty"), F.asc("o_orderkey")], k=20,
    )


Q86_SQL = """
WITH qty AS (
  SELECT l_orderkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS o_totalprice, total_qty
FROM qty JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q87 — sole-returning supplier (TPC-H Q21 shape): EXISTS (another
# supplier shipped the same order) AND NOT EXISTS (another supplier had
# a return) — expressed Spark-first as left-semi + left-anti joins on
# the orderkey with a suppkey inequality, so Catalyst keeps both as
# shuffled semi/anti hash joins (no correlated subquery re-execution).
# ---------------------------------------------------------------------------


def q87_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    pairs = li.select(
        F.col("l_orderkey").alias("x_orderkey"),
        F.col("l_suppkey").alias("x_suppkey"),
    ).distinct()
    multi = l1.join(
        pairs,
        (l1["l_orderkey"] == pairs["x_orderkey"])
        & (l1["l_suppkey"] != pairs["x_suppkey"]),
        "left_semi",
    )
    returns = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("y_orderkey"),
        F.col("l_suppkey").alias("y_suppkey"),
    ).distinct()
    sole = multi.join(
        returns,
        (multi["l_orderkey"] == returns["y_orderkey"])
        & (multi["l_suppkey"] != returns["y_suppkey"]),
        "left_anti",
    )
    counts = sole.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("numwait")
    )
    named = counts.join(
        F.broadcast(s), counts["l_suppkey"] == s["s_suppkey"]
    ).select("s_name", "s_suppkey", "numwait")
    return topk.top_k(
        named, order_by=[F.desc("numwait"), F.asc("s_suppkey")], k=10
    )


Q87_SQL = """
WITH l1 AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
  WHERE l_returnflag = 'R'
), sole AS (
  SELECT l.l_orderkey, l.l_suppkey FROM l1 l
  WHERE EXISTS (SELECT 1 FROM lineitem x
                WHERE x.l_orderkey = l.l_orderkey
                  AND x.l_suppkey <> l.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem y
                    WHERE y.l_orderkey = l.l_orderkey
                      AND y.l_suppkey <> l.l_suppkey
                      AND y.l_returnflag = 'R')
)
SELECT s_name, s_suppkey, count(*) AS numwait
FROM sole JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name, s_suppkey
ORDER BY numwait DESC, s_suppkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q88 — winsorization (operators/stats.py:winsorize): event values
# clipped to per-type exact [p05, p95]; bounds bit-match DuckDB
# quantile_cont (q33 parity), so the clipped double is bit-stable.
# ---------------------------------------------------------------------------


def q88_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = stats.winsorize(e, "event_type", "value", 0.05, 0.95)
    return out.filter(F.col("event_id") % 17 == 0).select(
        "event_id", "event_type", "value",
        F.col("value_wins").alias("value_wins"),
    )


Q88_SQL = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       least(greatest(value, b.lo), b.hi) AS value_wins
FROM events e JOIN b ON e.event_type = b.event_type
WHERE event_id % 17 = 0
"""


# ---------------------------------------------------------------------------
# q89 — trailing-window anomaly detection (operators/timeseries.py:
# rolling_anomalies): per-user 3-day leave-one-out baseline over epoch
# seconds, exact decimal moment sums, |z| > 2 flags.
# ---------------------------------------------------------------------------

ANOM_WIN = 3 * 86400


def q89_rolling_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    out = timeseries.rolling_anomalies(
        e, "user_id", "ts", "v", window_sec=ANOM_WIN,
        z_thresh=2.0, min_n=5,
    )
    return out.select("event_id", "user_id", "z")


Q89_SQL = f"""
WITH d AS (
  SELECT event_id, user_id,
         CAST(value AS DECIMAL(18,2)) AS v,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
), w AS (
  SELECT event_id, user_id, v,
         CAST(count(v) OVER win AS DOUBLE) AS n,
         CAST(CAST(sum(v) OVER win AS VARCHAR) AS DOUBLE) AS s,
         CAST(CAST(sum(v * v) OVER win AS VARCHAR) AS DOUBLE) AS sxx
  FROM d
  WINDOW win AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN {ANOM_WIN} PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT event_id, user_id,
         CASE WHEN n >= 5 AND (sxx - s * s / n) / (n - 1.0) > 0 THEN
           (CAST(CAST(v AS VARCHAR) AS DOUBLE) - s / n)
             / sqrt((sxx - s * s / n) / (n - 1.0))
         END AS z
  FROM w
)
SELECT event_id, user_id, z FROM z WHERE abs(z) > 2.0
"""


# ---------------------------------------------------------------------------
# q90 — char-distribution entropy (functions/text.py:char_entropy):
# Shannon entropy over a FIXED 27-char alphabet via the replace trick —
# 27 codegen string scans, zero explodes, fixed-order float tree.
# ---------------------------------------------------------------------------


def q90_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", T.char_entropy(F.col("text")).alias("entropy")
    )


def _entropy_oracle_sql() -> str:
    cols = ", ".join(
        f"length(s) - length(replace(s, '{ch}', '')) AS c{i}"
        for i, ch in enumerate(T.ENTROPY_ALPHABET)
    )
    idx = range(len(T.ENTROPY_ALPHABET))
    n = " + ".join(f"c{i}" for i in idx)
    acc = "0.0"
    for i in idx:
        acc = (
            f"({acc} + CASE WHEN c{i} > 0 THEN CAST(c{i} AS DOUBLE)"
            f" * ln(CAST(c{i} AS DOUBLE)) ELSE 0.0 END)"
        )
    return f"""
WITH t AS (
  SELECT doc_id, lang, lower(text) AS s FROM documents
), c AS (
  SELECT doc_id, lang, {cols} FROM t
), e AS (
  SELECT doc_id, lang, {n} AS nn, {acc} AS acc FROM c
)
SELECT doc_id, lang,
       CASE WHEN nn > 0
            THEN round(ln(CAST(nn AS DOUBLE)) - acc / CAST(nn AS DOUBLE), 6)
       END AS entropy
FROM e
"""


Q90_SQL = _entropy_oracle_sql()


# ---------------------------------------------------------------------------
# q91 — quantile bucketize APPLY (operators/stats.py:apply_buckets):
# fit q74's equi-depth boundaries, then assign every lineitem its
# bucket via a broadcast hash join (range predicate as residual) and
# count distinct orders per bucket.
# ---------------------------------------------------------------------------


def q91_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
    )
    hist = stats.equi_depth_histogram(
        li, "l_returnflag", "price", buckets=EQD_B
    )
    assigned = stats.apply_buckets(li, hist, "l_returnflag", "price")
    return (
        assigned.groupBy("l_returnflag", F.col("bucket").cast("long").alias("bucket"))
        .agg(F.count_distinct(F.col("l_orderkey")).alias("n_orders"))
    )


Q91_SQL = _EQD_CTE + """
, hist AS (
  SELECT grp, CAST(bucket AS BIGINT) AS bucket,
         min(v) AS lo, max(v) AS hi
  FROM a GROUP BY grp, bucket
), li AS (
  SELECT l_orderkey, l_returnflag AS grp,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS price
  FROM lineitem
)
SELECT li.grp AS l_returnflag, hist.bucket,
       count(DISTINCT li.l_orderkey) AS n_orders
FROM li JOIN hist
  ON li.grp = hist.grp AND li.price >= hist.lo AND li.price <= hist.hi
GROUP BY li.grp, hist.bucket
"""


# ---------------------------------------------------------------------------
# q92 — PageRank (operators/graph.py:pagerank) over the q20 rolling-
# fingerprint overlap graph, 3 rounds of fixed-point integer updates —
# bit-identical in any engine (the oracle unrolls the same integer
# recurrence).
# ---------------------------------------------------------------------------

PR_ITERS = 3


def q92_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = q20_rolling_overlap(spark, sf_dir).select("id_a", "id_b")
    return graph.pagerank(edges, iters=PR_ITERS)


def _pagerank_oracle_sql() -> str:
    head = f"""
WITH n0 AS (
  SELECT doc_id AS id, {_NORM} AS s FROM documents
), w0 AS (
  SELECT id, list_distinct(list_transform(
           range(0, greatest(CAST(ceil(length(s) / {ROLL_W}.0) AS INTEGER), 1)),
           i -> md5(substr(s, i * {ROLL_W} + 1, {ROLL_W}))
         )) AS fps
  FROM n0
), ex AS (
  SELECT id, fp FROM (SELECT id, unnest(fps) AS fp FROM w0)
  QUALIFY count(*) OVER (PARTITION BY fp) <= {ROLL_MAX_DF}
), e AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM ex l JOIN ex r ON l.fp = r.fp AND l.id < r.id
), sym AS (
  SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e
), deg AS (
  SELECT u, count(*) AS deg FROM sym GROUP BY u
), nn AS (
  SELECT count(*) AS n FROM deg
), r0 AS (
  SELECT u, deg, n, CAST(1000000000000 AS BIGINT) // n AS rank
  FROM deg, nn
)"""
    iters = []
    for i in range(1, PR_ITERS + 1):
        prev = f"r{i - 1}"
        iters.append(f"""
, c{i} AS (
  SELECT u, rank // deg AS contrib FROM {prev}
), i{i} AS (
  SELECT s.v AS u, CAST(sum(c.contrib) AS BIGINT) AS s
  FROM sym s JOIN c{i} c ON s.u = c.u GROUP BY s.v
), r{i} AS (
  SELECT d.u, d.deg, d.n,
         CAST(3000000000000 AS BIGINT) // (CAST(20 AS BIGINT) * d.n)
         + (CAST(17 AS BIGINT) * coalesce(i{i}.s, CAST(0 AS BIGINT))) // 20
           AS rank
  FROM {prev} d LEFT JOIN i{i} ON d.u = i{i}.u
)""")
    tail = f"""
SELECT u AS node, CAST(rank AS BIGINT) AS rank_scaled FROM r{PR_ITERS}
"""
    return head + "".join(iters) + tail


Q92_SQL = _pagerank_oracle_sql()


# ---------------------------------------------------------------------------
# q93 — token co-occurrence itemsets (operators/text_analysis.py:
# cooccurrence_pairs): A-priori-pruned market-basket pairs over the
# documents corpus, top-25 by document co-frequency.
# ---------------------------------------------------------------------------


def q93_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text_analysis.cooccurrence_pairs(
        d, "doc_id", "text", min_df=5, k=25
    )


Q93_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS d,
         unnest(string_split({_NORM}, ' ')) AS tok
  FROM documents
), toks2 AS (
  SELECT d, tok FROM toks WHERE tok <> ''
), freq AS (
  SELECT tok FROM toks2 GROUP BY tok HAVING count(*) >= 5
), pruned AS (
  SELECT d, tok FROM toks2 WHERE tok IN (SELECT tok FROM freq)
), pairs AS (
  SELECT a.tok AS t1, b.tok AS t2
  FROM pruned a JOIN pruned b ON a.d = b.d AND a.tok < b.tok
), counts AS (
  SELECT t1, t2, count(*) AS pair_docs FROM pairs GROUP BY t1, t2
), nd AS (
  SELECT count(DISTINCT doc_id) AS n FROM documents
)
SELECT t1, t2, pair_docs, CAST(pair_docs AS DOUBLE) / n AS support
FROM counts, nd
ORDER BY pair_docs DESC, t1, t2
LIMIT 25
"""


# ---------------------------------------------------------------------------
# q94 — MAD robust outliers (operators/stats.py:grouped_mad): per-flag
# median / MAD of l_extendedprice and the count beyond 3·1.4826·MAD.
# ---------------------------------------------------------------------------


def q94_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    # few_groups stays False here: measured at sf0.1, the 3-task
    # per-group window costs 1.1 s vs 1.9 s for the two-level scan
    # (persist + offset stages dominate at histogram sizes that fit one
    # task's sort).  Flip to True when per-group distinct counts exceed
    # one task's comfortable sort (~tens of millions) — the 100 TB
    # setting; see BENCH_SCALE.md "q94 floor" for the numbers.
    return stats.grouped_mad(li, "l_returnflag", "l_extendedprice", k=3.0)


Q94_SQL = """
WITH med AS (
  SELECT l_returnflag AS g, quantile_cont(l_extendedprice, 0.5) AS med
  FROM lineitem GROUP BY 1
), dev AS (
  SELECT m.g, m.med, abs(l_extendedprice - m.med) AS adev
  FROM lineitem l JOIN med m ON l.l_returnflag = m.g
), mad AS (
  SELECT g, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY g
)
SELECT d.g AS l_returnflag, min(d.med) AS med, min(mad.mad) AS mad,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN d.adev > 3.0 * 1.4826 * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad ON d.g = mad.g
GROUP BY d.g
"""


# ---------------------------------------------------------------------------
# q95 — Benford first-digit drift (operators/profile.py:
# benford_deviation): o_totalprice digit distribution per priority,
# chi-square vs the log10(1+1/d) expectation (literals precomputed in
# Python, embedded identically on both engines).
# ---------------------------------------------------------------------------


def q95_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return profile.benford_deviation(o, "o_orderpriority", "o_totalprice")


def _benford_oracle_sql() -> str:
    dig = "substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)"
    cs = ",\n       ".join(
        f"CAST(sum(CASE WHEN {dig} = '{d}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c{d}"
        for d in range(1, 10)
    )
    chi = "0.0"
    for d in range(1, 10):
        e = f"(CAST(n AS DOUBLE) * {profile.BENFORD_P[d]!r})"
        o_ = f"CAST(c{d} AS DOUBLE)"
        chi = f"({chi} + ({o_} - {e}) * ({o_} - {e}) / {e})"
    return f"""
WITH a AS (
  SELECT o_orderpriority, count(*) AS n,
       {cs}
  FROM orders WHERE o_totalprice >= 1
  GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, {", ".join(f"c{d}" for d in range(1, 10))},
       round({chi}, 6) AS chi2
FROM a
"""


Q95_SQL = _benford_oracle_sql()


# ---------------------------------------------------------------------------
# q96 — reciprocal-rank fusion (operators/retrieval.py:rrf_fuse):
# hybrid retrieval combining the BM25 top-100 (lexical) with the
# quality-score top-100 (prior), RRF c=60, top-15 out.
# ---------------------------------------------------------------------------

RRF_L = 100
RRF_K = 15


def q96_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bm = retrieval.bm25_topk(docs, BM25_TERMS, k=RRF_L)
    w1 = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    r1 = bm.select(
        "doc_id", F.row_number().over(w1).cast("long").alias("rank")
    )
    q = docs.select(
        "doc_id", T.quality_score(F.col("text")).alias("quality")
    )
    top_q = topk.top_k(
        q, order_by=[F.desc("quality"), F.asc("doc_id")], k=RRF_L
    )
    w2 = Window.orderBy(F.desc("quality"), F.asc("doc_id"))
    r2 = top_q.select(
        "doc_id", F.row_number().over(w2).cast("long").alias("rank")
    )
    fused = retrieval.rrf_fuse([r1, r2], id_col="doc_id", c=60, k=RRF_K)
    return fused.select(
        "doc_id",
        F.col("__r0").alias("rank_bm25"),
        F.col("__r1").alias("rank_quality"),
        "rrf",
    )


def _rrf_oracle_sql() -> str:
    quality_expr = """
       round(0.4 * (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                         WHEN n < 100 THEN n / 100.0
                         ELSE 20000.0 / n END)
           + 0.3 * (1.0 - least(punct * 4, 1.0))
           + 0.3 * uniq, 6)"""
    return _BM25_CTE + f"""
, bmtop AS (
  SELECT id AS doc_id, round(0.0 + {_BM25_SCORE_SQL}, 6) AS bm25
  FROM per_term ORDER BY bm25 DESC, doc_id LIMIT {RRF_L}
), rank1 AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
  FROM bmtop
), qm AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n,
         regexp_replace(text, '\\s+', '', 'g') AS nonspace,
         string_split({_NORM}, ' ') AS toks
  FROM documents
), qr AS (
  SELECT doc_id, n,
         CASE WHEN length(nonspace) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(nonspace, '[A-Za-z0-9]', '', 'g')) AS DOUBLE)
                   / CAST(length(nonspace) AS DOUBLE) END AS punct,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         END AS uniq
  FROM qm
), qtop AS (
  SELECT doc_id, {quality_expr} AS quality
  FROM qr ORDER BY quality DESC, doc_id LIMIT {RRF_L}
), rank2 AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY quality DESC, doc_id) AS r
  FROM qtop
), f AS (
  SELECT coalesce(rank1.doc_id, rank2.doc_id) AS doc_id,
         rank1.r AS ra, rank2.r AS rb
  FROM rank1 FULL JOIN rank2 ON rank1.doc_id = rank2.doc_id
)
SELECT doc_id, ra AS rank_bm25, rb AS rank_quality,
       (0.0 + coalesce(1.0 / (60.0 + CAST(ra AS DOUBLE)), 0.0))
         + coalesce(1.0 / (60.0 + CAST(rb AS DOUBLE)), 0.0) AS rrf
FROM f
ORDER BY rrf DESC, doc_id
LIMIT {RRF_K}
"""


Q96_SQL = _rrf_oracle_sql()


# ---------------------------------------------------------------------------
# q97 — declarative data-quality suite (operators/profile.py:
# check_constraints): Deequ-style named checks over lineitem, one scan,
# transposed to (check_name, value) rows.  value 0 == pass for the
# *_viol checks.
# ---------------------------------------------------------------------------


def q97_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    checks = [
        ("n_rows", F.count(F.lit(1))),
        ("null_shipdate", F.sum(F.col("l_shipdate").isNull().cast("int"))),
        ("null_quantity", F.sum(F.col("l_quantity").isNull().cast("int"))),
        (
            "qty_range_viol",
            F.sum(
                (~F.col("l_quantity").between(1, 50)).cast("int")
            ),
        ),
        (
            "flag_domain_viol",
            F.sum(
                (~F.col("l_returnflag").isin("A", "N", "R")).cast("int")
            ),
        ),
        (
            "dup_key_viol",
            F.count(F.lit(1)) - F.count_distinct(key),
        ),
        (
            "neg_price_viol",
            F.sum((F.col("l_extendedprice") < 0).cast("int")),
        ),
    ]
    return profile.check_constraints(li, checks)


Q97_SQL = """
WITH a AS (
  SELECT count(*) AS n_rows,
         sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_shipdate,
         sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS null_quantity,
         sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END)
           AS qty_range_viol,
         sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)
           AS flag_domain_viol,
         count(*) - count(DISTINCT l_orderkey * 10 + l_linenumber)
           AS dup_key_viol,
         sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END)
           AS neg_price_viol
  FROM lineitem
)
SELECT 'n_rows' AS check_name, CAST(n_rows AS BIGINT) AS value FROM a
UNION ALL SELECT 'null_shipdate', CAST(null_shipdate AS BIGINT) FROM a
UNION ALL SELECT 'null_quantity', CAST(null_quantity AS BIGINT) FROM a
UNION ALL SELECT 'qty_range_viol', CAST(qty_range_viol AS BIGINT) FROM a
UNION ALL SELECT 'flag_domain_viol', CAST(flag_domain_viol AS BIGINT) FROM a
UNION ALL SELECT 'dup_key_viol', CAST(dup_key_viol AS BIGINT) FROM a
UNION ALL SELECT 'neg_price_viol', CAST(neg_price_viol AS BIGINT) FROM a
"""


# ---------------------------------------------------------------------------
# q98 — deterministic mode per group (operators/stats.py:grouped_mode):
# each user's most frequent event_type, ties to the largest value.
# ---------------------------------------------------------------------------


def q98_user_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return stats.grouped_mode(e, "user_id", "event_type")


Q98_SQL = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY user_id, event_type
)
SELECT user_id, event_type AS mode_value, cnt AS mode_count
FROM c
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY cnt DESC, event_type DESC) = 1
"""


# ---------------------------------------------------------------------------
# q99 — 2-D skyline / Pareto frontier (operators/preference.py):
# parts no other part beats on BOTH price (min) and size (max).
# ---------------------------------------------------------------------------


def q99_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return preference.skyline_2d(p, "p_retailprice", "p_size")


Q99_SQL = """
WITH g AS (
  SELECT p_retailprice, max(p_size) AS gmax FROM part GROUP BY 1
), s AS (
  SELECT p_retailprice, gmax,
         max(gmax) OVER (ORDER BY p_retailprice
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev
  FROM g
)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
JOIN s ON p.p_retailprice = s.p_retailprice AND p.p_size = s.gmax
WHERE s.prev IS NULL OR s.gmax > s.prev
"""


# ---------------------------------------------------------------------------
# q100 — mutual nearest-neighbour alignment between two embedding sets
# (operators/similarity.py:mutual_top1_match_lsh): labels 0-4 vs 5-9.
# The registry runs the BUCKETED path (banded hyperplane-LSH candidate
# join, no driver collect — the 100 TB shape); the dense matmul tier
# (mutual_top1_match) stays as the capped verification sibling, benched
# as x100_mutual_dense.  The oracle replays the same deterministic
# hyperplanes/bands in DuckDB, so candidate-set equality is part of the
# hash check (same replay policy as q22/q23/q24).
# Scale parameters: 64 planes / 16-bit bands → 65,536 keys per band, so
# near-uniform signatures emit ≈ |A|·|B|/65,536 candidates per band —
# the corpus-survivable configuration (4-bit bands have 16 keys and emit
# ~¼ of the cross product; see the operator docstring).  The oracle
# carries the signature as HUGEINT (bit 63 is a real signature bit; the
# Spark side holds it as the BIGINT sign bit — band extraction
# `(s >> shift) & 65535` reads identical bits either way).
# ---------------------------------------------------------------------------

MUTUAL_PLANES = 64
MUTUAL_BAND_BITS = 16


def q100_mutual_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.mutual_top1_match_lsh(
        emb.filter(F.col("label") <= 4),
        emb.filter(F.col("label") >= 5),
        dim=EMB_DIM,
        n_planes=MUTUAL_PLANES,
        band_bits=MUTUAL_BAND_BITS,
    )


Q100_SQL = f"""
WITH hp AS (
  SELECT p.p, d.d,
         ('0x' || substr(md5('owes:' || p.p || ':' || (d.d - 1)), 1, 8))::BIGINT
           / 4294967295.0 * 2.0 - 1.0 AS w
  FROM range(0, {MUTUAL_PLANES}) p(p), range(1, {EMB_DIM + 1}) d(d)
), dots AS (
  SELECT e.vec_id, e.label, h.p,
         sum(e.embedding[h.d]::DOUBLE * h.w) AS dot
  FROM embeddings e, hp h
  GROUP BY 1, 2, 3
), sig AS (
  SELECT vec_id, label,
         sum(CASE WHEN dot >= 0
                  THEN (1::HUGEINT << CAST(p AS INT)) ELSE 0::HUGEINT END) AS s
  FROM dots GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM sig a, sig b, range(0, {MUTUAL_PLANES // MUTUAL_BAND_BITS}) r(band)
  WHERE a.label <= 4 AND b.label >= 5
    AND ((a.s >> (r.band * {MUTUAL_BAND_BITS})) & {(1 << MUTUAL_BAND_BITS) - 1})
      = ((b.s >> (r.band * {MUTUAL_BAND_BITS})) & {(1 << MUTUAL_BAND_BITS) - 1})
), av AS (
  SELECT vec_id AS a_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE label <= 4
), bv AS (
  SELECT vec_id AS b_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE label >= 5
), scored AS (
  SELECT c.a_id, c.b_id,
         round(
           list_sum(list_transform(range(1, len(a.v) + 1),
                    i -> a.v[i] * b.v[i]))
           / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
              * sqrt(list_sum(list_transform(b.v, x -> x * x)))),
         6) AS cosine
  FROM cand c JOIN av a ON c.a_id = a.a_id JOIN bv b ON c.b_id = b.b_id
), ranked AS (
  SELECT a_id, b_id, cosine,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY cosine DESC, b_id) AS ra,
         row_number() OVER (PARTITION BY b_id
                            ORDER BY cosine DESC, a_id) AS rb
  FROM scored
)
SELECT a_id, b_id, cosine FROM ranked WHERE ra = 1 AND rb = 1
"""


# ---------------------------------------------------------------------------
# q101 — incremental new-vs-corpus MinHash dedup (operators/dedup.py:
# incremental_minhash_dedup): the nightly-ingest path.  The md5 split
# (doc_id % 10 == 0 → incoming) is engine-portable.
# ---------------------------------------------------------------------------


def _inc_split_spark(col: F.Column) -> F.Column:
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("long") % 10
    )


_INC_SPLIT_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10"
)


def q101_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = _inc_split_spark(F.col("doc_id"))
    incoming = docs.filter(bucket == 0)
    corpus = docs.filter(bucket != 0)
    return dedup.incremental_minhash_dedup(
        corpus,
        incoming,
        shingle_n=SHINGLE_N,
        num_hashes=MINHASH_N,
        bands=MINHASH_BANDS,
        jaccard_threshold=JACCARD_T,
    )


def _incdedup_oracle_sql() -> str:
    # Replays the q13 arithmetic-MinHash funnel (same constants), but the
    # candidate join is incoming×corpus only, finished by a per-new-id
    # argmax (ties → smallest corpus id).
    rpb = MINHASH_N // MINHASH_BANDS
    P = S.MINHASH_P
    perms = S.minhash_perm_params(MINHASH_N)
    slots = ",\n    ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P}))"
        for (a, b) in perms
    )
    band_fields = ", ".join(
        "{'band': %d, %s}"
        % (b, ", ".join(f"'k{r}': sig[{b * rpb + r + 1}]" for r in range(rpb)))
        for b in range(MINHASH_BANDS)
    )
    key_eq = " AND ".join(["l.b.band = r.b.band"] + [
        f"l.b.k{r} = r.b.k{r}" for r in range(rpb)
    ])
    norm = _NORM_SQL.format(x="text")
    return f"""
WITH d AS (
  SELECT doc_id AS id, ({_INC_SPLIT_SQL}) = 0 AS is_new,
         string_split({norm}, ' ') AS toks
  FROM documents
), sh AS (
  SELECT id, is_new, list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_N - 1}, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_N - 1}), ' ')
         )) AS shingles
  FROM d
), hsh AS (
  SELECT id, is_new, shingles,
         list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 8))::BIGINT % {P}) AS hs
  FROM sh
), sig AS (
  SELECT id, is_new, [
    {slots}
  ] AS sig FROM hsh
), bk AS (
  SELECT id, is_new, unnest([{band_fields}]) AS b FROM sig
), cand AS (
  SELECT DISTINCT l.id AS new_id, r.id AS dup_of
  FROM bk l JOIN bk r ON {key_eq}
  WHERE l.is_new AND NOT r.is_new
), verified AS (
  SELECT cand.new_id, cand.dup_of,
         len(list_intersect(a.shingles, b.shingles)) * 1.0
           / len(list_distinct(list_concat(a.shingles, b.shingles)))
           AS jaccard
  FROM cand
  JOIN sh a ON a.id = cand.new_id
  JOIN sh b ON b.id = cand.dup_of
)
SELECT new_id, dup_of, jaccard
FROM verified WHERE jaccard >= {JACCARD_T}
QUALIFY row_number() OVER (PARTITION BY new_id
                           ORDER BY jaccard DESC, dup_of) = 1
"""


Q101_SQL = _incdedup_oracle_sql()


# ---------------------------------------------------------------------------
# q102 — session first-touch attribution (operators/timeseries.py:
# session_attribution): which entry event led to each purchase, and
# exactly how long after the session started (integer microseconds).
# ---------------------------------------------------------------------------

ATTR_GAP_MIN = 30


def q102_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return timeseries.session_attribution(
        ev, gap_minutes=ATTR_GAP_MIN, conversion_type="purchase"
    )


Q102_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
), b AS (
  SELECT *, CASE WHEN us - lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > {ATTR_GAP_MIN * 60 * 1000000}
                 THEN 1 ELSE 0 END AS nb
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(nb) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM b
), u AS (
  SELECT event_id, user_id, ts, event_type,
         first_value(event_type) OVER ws AS first_touch,
         us - first_value(us) OVER ws AS usecs_to_convert
  FROM s
  WINDOW ws AS (PARTITION BY user_id, sess ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, first_touch,
       CAST(usecs_to_convert AS BIGINT) AS usecs_to_convert
FROM u WHERE event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# q103 — top-k bigrams per language by document frequency
# (operators/text_analysis.py:topk_ngrams_per_group).
# ---------------------------------------------------------------------------

NGRAM_TOPK = 5


def q103_lang_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.topk_ngrams_per_group(
        docs, "lang", n=2, k=NGRAM_TOPK
    )


Q103_SQL = f"""
WITH d AS (
  SELECT lang, string_split({_NORM_SQL.format(x='text')}, ' ') AS toks
  FROM documents
), g AS (
  SELECT lang, unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + 1), ' ')
         ))) AS gram
  FROM d
), c AS (
  SELECT lang, gram, count(*) AS df FROM g GROUP BY 1, 2
)
SELECT lang, gram, df,
       row_number() OVER (PARTITION BY lang ORDER BY df DESC, gram) AS rank
FROM c
QUALIFY rank <= {NGRAM_TOPK}
"""


# ---------------------------------------------------------------------------
# q104 — windowed-restart EWMA per user (operators/timeseries.py:ewma):
# deterministic left fold over a bounded ROWS window, pure codegen.
# ---------------------------------------------------------------------------

EWMA_ALPHA, EWMA_WINDOW = 0.25, 16


def q104_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return timeseries.ewma(
        ev,
        "user_id",
        "ts",
        "value",
        "event_id",
        alpha=EWMA_ALPHA,
        window=EWMA_WINDOW,
    )


Q104_SQL = f"""
WITH l AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
         list(value) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING
                                    AND CURRENT ROW) AS lst
  FROM events
)
SELECT user_id, ts, event_id, value,
       list_reduce(lst, (acc, x) ->
                   acc * {1.0 - EWMA_ALPHA!r} + {EWMA_ALPHA!r} * x) AS ewma
FROM l
"""


# ---------------------------------------------------------------------------
# q105 — cross-source score calibration (operators/stats.py:
# grouped_percent_rank): each doc's quality mapped to its percentile
# INSIDE its own source's distribution.
# ---------------------------------------------------------------------------


def q105_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", T.quality_score(F.col("text")).alias("quality")
    )
    return stats.grouped_percent_rank(scored, "source", "quality", "doc_id")


Q105_SQL = f"""
WITH q AS ({Q17_SQL})
SELECT q.doc_id, d.source, q.quality,
       percent_rank() OVER (PARTITION BY d.source ORDER BY q.quality)
         AS pct
FROM q JOIN documents d ON d.doc_id = q.doc_id
"""


# ---------------------------------------------------------------------------
# q106 — duplicated-n-gram coverage per doc (operators/text_analysis.py:
# dup_ngram_coverage): Gopher/RefinedWeb-style partial-boilerplate
# signal (8-gram doc-frequency join).
# ---------------------------------------------------------------------------

DUPNGRAM_N = 8


def q106_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.dup_ngram_coverage(docs, n=DUPNGRAM_N).select(
        F.col("id").alias("doc_id"), "n_grams", "n_dup", "dup_frac"
    )


Q106_SQL = f"""
WITH d AS (
  SELECT doc_id AS id, string_split({_NORM_SQL.format(x='text')}, ' ') AS toks
  FROM documents
), g AS (
  SELECT id, unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {DUPNGRAM_N - 1}, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + {DUPNGRAM_N - 1}), ' ')
         ))) AS gram
  FROM d
), df AS (
  SELECT gram, count(*) AS gdf FROM g GROUP BY gram
)
SELECT g.id AS doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN df.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(sum(CASE WHEN df.gdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS dup_frac
FROM g JOIN df ON g.gram = df.gram
GROUP BY g.id
"""


# ---------------------------------------------------------------------------
# q107 — vocabulary novelty per source slice (operators/text_analysis.py:
# vocab_novelty): distinct tokens per slice + how many are first-seen
# (Heaps-law growth across slices, lexicographic slice order).
# ---------------------------------------------------------------------------


def q107_vocab_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.vocab_novelty(docs, "source")


Q107_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT source AS slc,
         unnest(string_split({_NORM_SQL.format(x='text')}, ' ')) AS tok
  FROM documents
), first AS (
  SELECT tok, min(slc) AS fst FROM pairs GROUP BY tok
)
SELECT p.slc AS source, count(*) AS n_tokens,
       CAST(sum(CASE WHEN p.slc = f.fst THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new
FROM pairs p JOIN first f ON p.tok = f.tok
GROUP BY p.slc
"""


# ---------------------------------------------------------------------------
# q108 — per-user value trend via closed-form OLS (operators/stats.py:
# grouped_ols): slope/intercept/r² of value vs epoch-second, exact
# decimal moment sums → bit-stable closed-form tree.
# ---------------------------------------------------------------------------


def q108_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return stats.grouped_ols(
        ev,
        "user_id",
        F.expr("unix_micros(ts) div 1000000"),
        F.col("value"),
        x_decimal="decimal(18,0)",
        y_decimal="decimal(12,2)",
    )


Q108_SQL = """
WITH m AS (
  SELECT user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS DECIMAL(30,0))
           AS x,
         CAST(value AS DECIMAL(18,2)) AS y
  FROM events
), a AS (
  SELECT user_id, count(*) AS n,
         CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(sum(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
         CAST(CAST(sum(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(sum(y * y) AS VARCHAR) AS DOUBLE) AS syy
  FROM m GROUP BY user_id
), t AS (
  SELECT user_id, n,
         CAST(n AS DOUBLE) AS nd, sx, sy, sxy, sxx, syy,
         CAST(n AS DOUBLE) * sxx - sx * sx AS dx,
         CAST(n AS DOUBLE) * syy - sy * sy AS dy,
         CAST(n AS DOUBLE) * sxy - sx * sy AS cov
  FROM a
)
SELECT user_id, n,
       CASE WHEN dx > 0 THEN cov / dx END AS slope,
       CASE WHEN dx > 0 THEN (sy - (cov / dx) * sx) / nd END AS intercept,
       CASE WHEN dx > 0 AND dy > 0
            THEN (cov / (sqrt(dx) * sqrt(dy)))
                 * (cov / (sqrt(dx) * sqrt(dy))) END AS r2
FROM t
"""


# ---------------------------------------------------------------------------
# q109 — canonical-doc election per near-dup cluster
# (operators/curation.py:cluster_representatives over q39's components):
# keep the best-quality member, ties → smallest id.
# ---------------------------------------------------------------------------


def q109_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_pairs(docs).select("id_a", "id_b")
    cc = graph.connected_components(edges)
    clusters = cc.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    return curation.cluster_representatives(
        docs, clusters, T.quality_score(F.col("text"))
    )


Q109_SQL = f"""
WITH cc AS ({Q39_SQL}),
q AS ({Q17_SQL}),
m AS (
  SELECT cc.cluster_id, q.doc_id, q.quality
  FROM cc JOIN q ON q.doc_id = cc.doc_id
), s AS (
  SELECT cluster_id,
         count(*) OVER (PARTITION BY cluster_id) AS size,
         doc_id, quality,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id) AS rn
  FROM m
)
SELECT cluster_id, size, doc_id AS rep_id, quality AS rep_score
FROM s WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q110 — trapezoidal time-weighted average per user
# (operators/timeseries.py:time_weighted_avg): the irregular-sampling
# aggregate, exact decimal·integer-microsecond sums.
# ---------------------------------------------------------------------------


def q110_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return timeseries.time_weighted_avg(
        ev, "user_id", "ts", "value", "event_id"
    )


Q110_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CAST(value AS DECIMAL(18,2)) AS v,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
), seg AS (
  SELECT user_id, v, lead(v) OVER w AS vn, lead(us) OVER w - us AS dt
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), f AS (
  SELECT * FROM seg WHERE dt IS NOT NULL
)
SELECT user_id, count(*) AS n_intervals,
       CAST(sum(dt) AS BIGINT) AS span_us,
       CAST(CAST(sum((v + vn) * dt) AS VARCHAR) AS DOUBLE)
         / (2.0 * CAST(CAST(CAST(sum(dt) AS BIGINT) AS VARCHAR) AS DOUBLE))
         AS twa
FROM f GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q111 — top-k session journey paths (operators/timeseries.py:
# session_paths): the most common ordered event-type sequences per
# 30-minute session.
# ---------------------------------------------------------------------------

PATHS_K = 10


def q111_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return timeseries.session_paths(
        ev, gap_minutes=ATTR_GAP_MIN, k=PATHS_K
    )


Q111_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
), b AS (
  SELECT *, CASE WHEN us - lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > {ATTR_GAP_MIN * 60 * 1000000}
                 THEN 1 ELSE 0 END AS nb
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(nb) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM b
), p AS (
  SELECT user_id, sess,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM s GROUP BY user_id, sess
), c AS (
  SELECT path, count(*) AS n_sessions FROM p GROUP BY path
)
SELECT path, n_sessions,
       row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
FROM c
QUALIFY rank <= {PATHS_K}
"""


# ---------------------------------------------------------------------------
# q112 — RFM customer segmentation (operators/timeseries.py:
# rfm_segments): recency/frequency/monetary quintiles over purchases.
# ---------------------------------------------------------------------------


def q112_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return timeseries.rfm_segments(ev, conversion_type="purchase")


Q112_SQL = """
WITH p AS (
  SELECT user_id,
         max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
         count(*) AS freq,
         sum(CAST(value AS DECIMAL(18,2))) AS m
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
), s AS (
  SELECT user_id, last_us, freq,
         CAST(CAST(m AS VARCHAR) AS DOUBLE) AS monetary,
         CAST(ntile(5) OVER (ORDER BY last_us DESC, user_id) AS BIGINT) AS r,
         CAST(ntile(5) OVER (ORDER BY freq DESC, user_id) AS BIGINT) AS f,
         CAST(ntile(5) OVER (ORDER BY m DESC, user_id) AS BIGINT) AS m
  FROM p
)
SELECT user_id, last_us, freq, monetary, r, f, m,
       CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
         AS segment
FROM s
"""


# ---------------------------------------------------------------------------
# q113 — exact CUSUM change-point per user (operators/timeseries.py:
# cusum_changepoint): scaled-integer cumulative deviation, argmax index.
# ---------------------------------------------------------------------------


def q113_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return timeseries.cusum_changepoint(
        ev, "user_id", "ts", "value", "event_id"
    )


Q113_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
), r AS (
  SELECT user_id,
         sum(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS prefix,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS k,
         sum(v) OVER (PARTITION BY user_id) AS s,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM e
), d AS (
  SELECT user_id, n, k,
         abs(CAST(n AS DECIMAL(20,0)) * prefix
             - CAST(k AS DECIMAL(20,0)) * s) AS adev
  FROM r
)
SELECT user_id, CAST(n AS BIGINT) AS n,
       CAST(k AS BIGINT) AS cp_index,
       CAST(CAST(adev AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS peak
FROM d
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY adev DESC, k) = 1
"""


# ---------------------------------------------------------------------------
# q114 — exact quantity-weighted median price per return flag
# (operators/stats.py:grouped_weighted_median): rank statistic over the
# distributed weight histogram, no division, no interpolation.
# ---------------------------------------------------------------------------


def q114_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return stats.grouped_weighted_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity"
    )


Q114_SQL = """
WITH h AS (
  SELECT l_returnflag AS g, l_extendedprice AS v,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS cw
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND l_quantity > 0
  GROUP BY 1, 2
), c AS (
  SELECT g, v,
         sum(cw) OVER (PARTITION BY g ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cw) OVER (PARTITION BY g) AS tot
  FROM h
)
SELECT g AS l_returnflag,
       CAST(CAST(max(tot) AS VARCHAR) AS DOUBLE) AS total_weight,
       min(v) AS wmedian
FROM c WHERE 2 * cum >= tot
GROUP BY g
"""


# ---------------------------------------------------------------------------
# q115 — leakage-safe train/val/test split at near-dup-cluster
# granularity (operators/splits.py:cluster_safe_split over q39's
# connected components): near-duplicate docs can never straddle splits.
# ---------------------------------------------------------------------------

SPLIT_WEIGHTS = {"train": 8, "val": 1, "test": 1}


def q115_leak_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_pairs(docs).select("id_a", "id_b")
    cc = graph.connected_components(edges)
    clusters = cc.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    out = splits.cluster_safe_split(docs, clusters, SPLIT_WEIGHTS)
    return out.select(
        F.col("id").alias("doc_id"), "cluster_key", "split"
    )


Q115_SQL = f"""
WITH cc AS ({Q39_SQL}),
k AS (
  SELECT d.doc_id,
         coalesce(cc.cluster_id, d.doc_id) AS cluster_key
  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
), b AS (
  SELECT doc_id, cluster_key,
         ('0x' || substr(md5(CAST(cluster_key AS VARCHAR)), 1, 8))::BIGINT
           % 10 AS bkt
  FROM k
)
SELECT doc_id, cluster_key,
       CASE WHEN bkt < 8 THEN 'train'
            WHEN bkt < 9 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


# ---------------------------------------------------------------------------
# q116–q120 — TPC-H classic shapes adapted to this testdata's columns
# (no partsupp/shipmode/container/phone in TESTDATA.md): each exercises
# a distinct Catalyst capability the reference's pandas pipeline lacks —
# conditional aggregation over a join (Q12), conditional-ratio
# aggregates (Q14), correlated-scalar decorrelation (Q17), OR-of-ANDs
# predicate pushdown (Q19), and NOT-EXISTS anti-join + scalar subquery
# (Q22).
# ---------------------------------------------------------------------------


def q116_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: lines shipped >90 days after their order date
    count as late; per order-priority, late vs on-time line counts."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.sum(late.cast("long")).alias("late_lines"),
            F.sum((~late).cast("long")).alias("ontime_lines"),
        )
    )


Q116_SQL = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN CAST(l_shipdate AS DATE)
                          - CAST(o_orderdate AS DATE) > 90
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
       CAST(sum(CASE WHEN CAST(l_shipdate AS DATE)
                          - CAST(o_orderdate AS DATE) > 90
                     THEN 0 ELSE 1 END) AS BIGINT) AS ontime_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q117_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: % of discounted revenue from promo-class parts
    in one month.  One broadcast join, one conditional-ratio aggregate;
    numerator/denominator are exact decimal sums, the percentage one
    fixed double tree."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01")
        & (F.col("l_shipdate") < "1995-10-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    )
    promo = F.col("p_type").startswith("PROMO")
    agg = j.agg(
        F.sum(F.when(promo, rev).otherwise(F.lit(0).cast("decimal(18,4)")))
        .alias("__p"),
        F.sum(rev).alias("__t"),
    )
    dbl = lambda c: c.cast("string").cast("double")
    return agg.select(
        (F.lit(100.0) * dbl(F.col("__p")) / dbl(F.col("__t"))).alias(
            "promo_revenue_pct"
        )
    )


Q117_SQL = """
SELECT 100.0 * CAST(CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(3,2))
                             - CAST(l_discount AS DECIMAL(3,2)))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
       / CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(3,2))
                          - CAST(l_discount AS DECIMAL(3,2))))
               AS VARCHAR) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01'
"""


def q118_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below 20% of the part's own average quantity) were not
    filled.  The correlated scalar subquery is expressed DECORRELATED —
    aggregate-per-part then join — which is exactly the plan Catalyst's
    subquery decorrelation produces from the SQL form."""
    li = _t(spark, sf_dir, "lineitem")
    brand = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    per_part = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (_dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("__avg_qty")
    )
    j = (
        li.join(F.broadcast(brand), li["l_partkey"] == brand["p_partkey"])
        .join(per_part, li["l_partkey"] == per_part["__pk"])
        .filter(
            F.col("l_quantity").cast("double") < 0.2 * F.col("__avg_qty")
        )
    )
    return j.agg(
        (_dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly")
    )


Q118_SQL = f"""
WITH pp AS (
  SELECT l_partkey AS pk,
         {_DSUM.format(x='l_quantity')} / count(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT {_DSUM.format(x='l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
JOIN pp ON l_partkey = pp.pk
WHERE CAST(l_quantity AS DOUBLE) < 0.2 * pp.avg_qty
"""


def q119_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three OR'd brand/size/quantity
    bands — the OR-of-ANDs predicate that tests pushdown and join
    condition handling (the whole disjunction evaluates inside the
    joined scan, no fallback to a cross product)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    )
    return (
        j.filter(band)
        .agg(F.sum(rev).cast("string").cast("double").alias("revenue"))
    )


Q119_SQL = """
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(3,2))
                        - CAST(l_discount AS DECIMAL(3,2))))
        AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q120_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per market segment, the rich-but-churned
    customers — above-average account balance and NO orders since
    2000-01-01 — scalar-average subquery (one broadcast 1-row
    aggregate) + date-filtered anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    pos = c.filter(F.col("c_acctbal") > 0)
    avg_bal = pos.agg(
        (_dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("__avg")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal").cast("double") > F.col("__avg")
    )
    inactive = rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
    return inactive.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dsum(F.col("c_acctbal")).alias("total_bal"),
    )


Q120_SQL = f"""
WITH a AS (
  SELECT {_DSUM.format(x='c_acctbal')} / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, count(*) AS n_customers,
       {_DSUM.format(x='c_acctbal')} AS total_bal
FROM customer, a
WHERE CAST(c_acctbal AS DOUBLE) > a.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# q121 — deterministic denoising-pair synthesis (operators/chunking.py:
# denoising_pairs): md5-keyed token masking, one scan-side projection.
# ---------------------------------------------------------------------------

MASK_PCT = 15


def q121_denoising_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return chunking.denoising_pairs(docs, mask_pct=MASK_PCT).select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "n_masked",
        "input_text",
        "target_text",
    )


Q121_SQL = f"""
WITH d AS (
  SELECT doc_id AS id, string_split({_NORM_SQL.format(x='text')}, ' ') AS toks
  FROM documents
), t AS (
  SELECT id, toks,
         list_transform(range(1, len(toks) + 1),
           i -> struct_pack(i := i - 1, t := toks[i])) AS tagged
  FROM d
), m AS (
  SELECT id, len(toks) AS n_tokens,
         list_filter(tagged, s ->
           ('0x' || substr(md5(CAST(id AS VARCHAR) || ':'
                               || CAST(s.i AS VARCHAR)), 1, 8))::BIGINT
           % 100 >= {MASK_PCT}) AS kept,
         list_filter(tagged, s ->
           ('0x' || substr(md5(CAST(id AS VARCHAR) || ':'
                               || CAST(s.i AS VARCHAR)), 1, 8))::BIGINT
           % 100 < {MASK_PCT}) AS dropped
  FROM t
)
SELECT id AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(dropped) AS BIGINT) AS n_masked,
       coalesce(array_to_string(list_transform(kept, s -> s.t), ' '), '')
         AS input_text,
       coalesce(array_to_string(list_transform(dropped,
         s -> CAST(s.i AS VARCHAR) || ':' || s.t), ' '), '') AS target_text
FROM m
"""


# ---------------------------------------------------------------------------
# q122 — temperature-based dataset mixing (operators/splits.py:
# temperature_mix): size^0.5 slice reweighting to a row budget,
# md5-integer membership.
# ---------------------------------------------------------------------------

MIX_BUDGET = 200


def q122_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return splits.temperature_mix(
        docs, "source", budget=MIX_BUDGET, alpha=0.5
    )


Q122_SQL = f"""
WITH c AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
), z AS (
  SELECT list_reduce(
           list_prepend(0.0::DOUBLE,
             list_transform(
               list_sort(list(struct_pack(g := source, n := n))),
               s -> sqrt(CAST(s.n AS DOUBLE)))),
           (acc, x) -> acc + x) AS z
  FROM c
), p AS (
  SELECT c.source,
         CAST(floor(least(1.0,
                {float(MIX_BUDGET)!r} * sqrt(CAST(c.n AS DOUBLE)) / z.z
                / CAST(c.n AS DOUBLE)) * 4294967296.0) AS BIGINT) AS thresh
  FROM c, z
)
SELECT d.doc_id AS id, d.source,
       p.thresh AS keep_threshold
FROM documents d JOIN p ON d.source = p.source
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      < p.thresh
"""


# ---------------------------------------------------------------------------
# q123 — directional containment pairs (operators/dedup.py:
# containment_pairs): excerpt/quoted-inside detection that symmetric
# Jaccard can't see; lossless rarest-gram prefix probe.
# ---------------------------------------------------------------------------

CONTAIN_T = 0.6


def q123_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, shingle_n=SHINGLE_N, threshold=CONTAIN_T
    )


Q123_SQL = f"""
WITH d AS (
  SELECT doc_id AS id, string_split({_NORM_SQL.format(x='text')}, ' ') AS toks
  FROM documents
), g AS (
  SELECT id, list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_N - 1}, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_N - 1}), ' ')
         )) AS grams
  FROM d
)
SELECT a.id AS id_a, b.id AS id_b,
       len(list_intersect(a.grams, b.grams)) * 1.0 / len(a.grams)
         AS containment
FROM g a, g b
WHERE a.id <> b.id
  AND len(list_intersect(a.grams, b.grams)) * 1.0 / len(a.grams)
      >= {CONTAIN_T}
"""


# ---------------------------------------------------------------------------
# q124 — dedup funnel evaluation: precision/recall/F1 of the MinHash-LSH
# candidate funnel (q13) against exact n-gram-Jaccard truth (q14),
# restricted to q14's same-lang blocking domain so the comparison is
# apples-to-apples.  The quantitative answer to "is the approximate
# dedup good enough to replace the exact one?" — itself a distributed
# query (two funnels + one full-outer join + one aggregate).
# ---------------------------------------------------------------------------


def q124_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    langs = docs.select(F.col("doc_id").alias("id"), "lang")
    # ONE persisted parse pass feeds BOTH funnels (guide §2.4): the
    # MinHash funnel and the exact-Jaccard truth tier shingle the same
    # corpus with the same n — previously each ran its own
    # tokenize+shingle pipeline (two full documents parses).
    shared = dedup.shingle_table(
        docs, shingle_n=SHINGLE_N, extra_cols=("lang",)
    )
    pred = (
        dedup.minhash_lsh_pairs(
            docs,
            shingle_n=SHINGLE_N,
            num_hashes=MINHASH_N,
            bands=MINHASH_BANDS,
            jaccard_threshold=JACCARD_T,
            shingled=shared.select(
                "id", F.col("grams").alias("shingles")
            ),
        )
        .select("id_a", "id_b")
        .join(langs.select(F.col("id").alias("id_a"), F.col("lang").alias("__la")), "id_a")
        .join(langs.select(F.col("id").alias("id_b"), F.col("lang").alias("__lb")), "id_b")
        .filter(F.col("__la") == F.col("__lb"))
        .select("id_a", "id_b")
        .withColumn("__p", F.lit(1))
    )
    truth = (
        dedup.ngram_jaccard_pairs(
            docs, ngram_n=SHINGLE_N, threshold=JACCARD_T, block_col="lang",
            gram_table=shared.select(
                "id", "grams", F.col("lang").alias("block")
            ),
        )
        .select("id_a", "id_b")
        .withColumn("__t", F.lit(1))
    )
    j = pred.join(truth, ["id_a", "id_b"], "full_outer")
    agg = j.agg(
        F.sum(
            (F.col("__p").isNotNull() & F.col("__t").isNotNull()).cast("long")
        ).alias("tp"),
        F.sum(
            (F.col("__p").isNotNull() & F.col("__t").isNull()).cast("long")
        ).alias("fp"),
        F.sum(
            (F.col("__p").isNull() & F.col("__t").isNotNull()).cast("long")
        ).alias("fn"),
    )
    p = F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
    r = F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))
    return agg.select(
        "tp",
        "fp",
        "fn",
        p.alias("precision"),
        r.alias("recall"),
        (F.lit(2.0) * p * r / (p + r)).alias("f1"),
    )


Q124_SQL = f"""
WITH pred0 AS ({Q13_SQL}),
docs_l AS (SELECT doc_id AS id, lang FROM documents),
pred AS (
  SELECT p.id_a, p.id_b
  FROM pred0 p
  JOIN docs_l a ON a.id = p.id_a
  JOIN docs_l b ON b.id = p.id_b
  WHERE a.lang = b.lang
),
truth AS (SELECT id_a, id_b FROM ({Q14_SQL}) t),
j AS (
  SELECT coalesce(pred.id_a, truth.id_a) AS id_a,
         coalesce(pred.id_b, truth.id_b) AS id_b,
         pred.id_a IS NOT NULL AS in_p,
         truth.id_a IS NOT NULL AS in_t
  FROM pred FULL JOIN truth
    ON pred.id_a = truth.id_a AND pred.id_b = truth.id_b
), a AS (
  SELECT CAST(sum(CASE WHEN in_p AND in_t THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
         CAST(sum(CASE WHEN in_p AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT)
           AS fp,
         CAST(sum(CASE WHEN NOT in_p AND in_t THEN 1 ELSE 0 END) AS BIGINT)
           AS fn
  FROM j
)
SELECT tp, fp, fn,
       CAST(tp AS DOUBLE) / (tp + fp) AS precision,
       CAST(tp AS DOUBLE) / (tp + fn) AS recall,
       (2.0 * (CAST(tp AS DOUBLE) / (tp + fp))
            * (CAST(tp AS DOUBLE) / (tp + fn)))
       / ((CAST(tp AS DOUBLE) / (tp + fp))
          + (CAST(tp AS DOUBLE) / (tp + fn))) AS f1
FROM a
"""


# ---------------------------------------------------------------------------
# q125 — time-bounded ordered funnel (streaming/events.py:
# windowed_funnel): view→click→purchase within 60 minutes of the
# earliest view, per-level user counts.
# ---------------------------------------------------------------------------

WFUNNEL_STEPS = ["view", "click", "purchase"]
WFUNNEL_MIN = 60


def q125_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    from occupation_wage_etl_spark.streaming import events as stream_events

    return stream_events.windowed_funnel(
        ev, WFUNNEL_STEPS, window_minutes=WFUNNEL_MIN
    )


Q125_SQL = f"""
WITH e AS (
  SELECT user_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
), f1 AS (
  SELECT user_id AS u, min(us) AS t, min(us) AS anchor
  FROM e WHERE event_type = '{WFUNNEL_STEPS[0]}' GROUP BY user_id
), f2 AS (
  SELECT e.user_id AS u, min(e.us) AS t, f1.anchor
  FROM e JOIN f1 ON e.user_id = f1.u
  WHERE e.event_type = '{WFUNNEL_STEPS[1]}'
    AND e.us >= f1.t AND e.us <= f1.anchor + {WFUNNEL_MIN * 60 * 1000000}
  GROUP BY e.user_id, f1.anchor
), f3 AS (
  SELECT e.user_id AS u, min(e.us) AS t, f2.anchor
  FROM e JOIN f2 ON e.user_id = f2.u
  WHERE e.event_type = '{WFUNNEL_STEPS[2]}'
    AND e.us >= f2.t AND e.us <= f2.anchor + {WFUNNEL_MIN * 60 * 1000000}
  GROUP BY e.user_id, f2.anchor
)
SELECT 1 AS level, '{WFUNNEL_STEPS[0]}' AS step,
       (SELECT count(*) FROM f1) AS n_users
UNION ALL
SELECT 2, '{WFUNNEL_STEPS[1]}', (SELECT count(*) FROM f2)
UNION ALL
SELECT 3, '{WFUNNEL_STEPS[2]}', (SELECT count(*) FROM f3)
"""


# ---------------------------------------------------------------------------
# q126 — out-of-order depth per user (operators/timeseries.py:
# out_of_order_depth): the watermark-sizing profile; arrival order =
# event_id, lateness in exact microseconds.
# ---------------------------------------------------------------------------


def q126_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return timeseries.out_of_order_depth(ev, "user_id", "ts", "event_id")


Q126_SQL = """
WITH e AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
), r AS (
  SELECT user_id, us,
         max(us) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS seen
  FROM e
), l AS (
  SELECT user_id, us, seen,
         (seen IS NOT NULL AND us < seen) AS late
  FROM r
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(max(CASE WHEN late THEN seen - us ELSE 0 END) AS BIGINT)
         AS max_disorder_us,
       CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         AS p_late
FROM l GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q127 — int8 quantization audit per embedding (operators/similarity.py:
# int8_quantize_stats): scale + reconstruction MSE, all scan-side.
# ---------------------------------------------------------------------------


def q127_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.int8_quantize_stats(emb)


Q127_SQL = """
WITH v AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings
), m AS (
  SELECT id, e,
         list_min(e) AS vmin, list_max(e) AS vmax,
         (list_max(e) - list_min(e)) / 255.0 AS scale
  FROM v
), q AS (
  SELECT id, vmin, vmax, scale,
         CASE WHEN scale > 0 THEN
           list_reduce(
             list_prepend(0.0::DOUBLE,
               list_transform(e, x ->
                 ((vmin + least(greatest(floor((x - vmin) / scale + 0.5),
                                         0.0), 255.0) * scale) - x)
                 * ((vmin + least(greatest(floor((x - vmin) / scale + 0.5),
                                           0.0), 255.0) * scale) - x))),
             (acc, t) -> acc + t)
           / len(e)
         ELSE 0.0 END AS mse
  FROM m
)
SELECT id, vmin, vmax,
       CASE WHEN scale > 0 THEN scale ELSE 0.0 END AS scale_factor, mse
FROM q
"""


# ---------------------------------------------------------------------------
# q128 — compaction planning (sources/lake.py:compaction_plan):
# contiguous prefix-sum bucketing of per-day lineitem byte estimates
# into ~64 KB-scaled output groups (planning-only; data never moves).
# ---------------------------------------------------------------------------

COMPACT_TARGET = 1 << 20  # 1 MiB of estimated row bytes per output group


def q128_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # estimated bytes per ship-date partition: rows x fixed est row width
    sizes = li.groupBy(
        F.to_date("l_shipdate").alias("part_day")
    ).agg((F.count(F.lit(1)) * F.lit(128)).alias("est_bytes"))
    return lake.compaction_plan(
        sizes, "part_day", "est_bytes", target_bytes=COMPACT_TARGET
    )


Q128_SQL = f"""
WITH s AS (
  SELECT CAST(l_shipdate AS DATE) AS part_day,
         count(*) * 128 AS est_bytes
  FROM lineitem GROUP BY 1
), a AS (
  SELECT part_day, est_bytes,
         CAST(coalesce(sum(est_bytes) OVER (ORDER BY part_day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // {COMPACT_TARGET} AS BIGINT) AS grp
  FROM s
)
SELECT grp AS file_group, count(*) AS n_parts,
       CAST(sum(est_bytes) AS BIGINT) AS group_bytes,
       min(part_day) AS first_part, max(part_day) AS last_part
FROM a GROUP BY grp
"""


# ---------------------------------------------------------------------------
# q129 — TPC-H Q4 shape: orders with at least one late line, by
# priority — the correlated-EXISTS that Catalyst decorrelates into a
# left-semi join (the DataFrame form IS the decorrelated plan).
# ---------------------------------------------------------------------------


def q129_exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late_orders = (
        li.join(
            o.select("o_orderkey", "o_orderdate"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60)
        .select(F.col("l_orderkey").alias("__ok"))
        .distinct()
    )
    return (
        o.join(late_orders, o["o_orderkey"] == F.col("__ok"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q129_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) > 60
)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q130 — ROLLUP hierarchy totals (region → nation → grand total), the
# partial-grouping-sets complement of q48's CUBE; one Expand, one
# shuffle.
# ---------------------------------------------------------------------------


def q130_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = c.join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    ).join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(F.col("c_acctbal")).alias("total_bal"),
        )
    )


Q130_SQL = f"""
SELECT r_name, n_name, count(*) AS n_customers,
       {_DSUM.format(x='c_acctbal')} AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# ---------------------------------------------------------------------------
# q131 — deterministic A/B experiment readout: md5 split of users into
# two arms, high-value-purchase conversion (value ≥ 150 — a metric with
# headroom; plain purchase converts 100% here and a universal metric
# zeroes the pooled variance) per arm, two-proportion z statistic from
# exact integer counts (one closed-form double tree).
# ---------------------------------------------------------------------------


def q131_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
    )
    per_user = ev.groupBy(F.col("user_id"), arm.alias("arm")).agg(
        F.max(
            (
                (F.col("event_type") == "purchase") & (F.col("value") >= 150)
            ).cast("long")
        ).alias("__c")
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("__c").alias("n_converted"),
    )
    wide = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("c1"),
    )
    n0, c0 = F.col("n0").cast("double"), F.col("c0").cast("double")
    n1, c1 = F.col("n1").cast("double"), F.col("c1").cast("double")
    p0, p1 = c0 / n0, c1 / n1
    pool = (c0 + c1) / (n0 + n1)
    z = (p1 - p0) / F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / n0 + F.lit(1.0) / n1))
    return wide.select(
        "n0", "c0", "n1", "c1",
        p0.alias("rate_control"),
        p1.alias("rate_treatment"),
        z.alias("z_stat"),
    )


Q131_SQL = """
WITH u AS (
  SELECT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
           AS arm,
         max(CASE WHEN event_type = 'purchase' AND value >= 150
             THEN 1 ELSE 0 END) AS c
  FROM events GROUP BY user_id
), a AS (
  SELECT arm, count(*) AS n, CAST(sum(c) AS BIGINT) AS conv
  FROM u GROUP BY arm
), w AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN arm = 0 THEN conv END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN arm = 1 THEN conv END) AS BIGINT) AS c1
  FROM a
)
SELECT n0, c0, n1, c1,
       CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS rate_control,
       CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate_treatment,
       (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
       / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
              * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
              * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
         AS z_stat
FROM w
"""


# ---------------------------------------------------------------------------
# q132 — spend-concentration (Gini) per market segment: exact-decimal
# cumulative spend over ranked customers, closed-form Gini from integer
# ranks — the inequality/concentration profile of a key column.
# ---------------------------------------------------------------------------


def q132_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__s"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("__s"), F.asc("o_custkey")
    )
    ranked = spend.withColumn("__i", F.row_number().over(w))
    # Gini = (2·Σ i·s_i) / (n·Σ s_i) − (n+1)/n with s sorted asc —
    # Σ i·s_i is exact decimal (integer rank × decimal), both divisions
    # one fixed double tree.
    def dbl(col: F.Column) -> F.Column:
        return col.cast("string").cast("double")

    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        dbl(F.sum(F.col("__i").cast("decimal(20,0)") * F.col("__s"))).alias(
            "__ws"
        ),
        dbl(F.sum("__s")).alias("__tot"),
    )
    n = F.col("n").cast("double")
    gini = (F.lit(2.0) * F.col("__ws")) / (n * F.col("__tot")) - (
        n + F.lit(1.0)
    ) / n
    return agg.select(
        "c_mktsegment", "n", F.col("__tot").alias("total_spend"),
        gini.alias("gini"),
    )


Q132_SQL = """
WITH s AS (
  SELECT c_mktsegment, o_custkey,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_custkey
), r AS (
  SELECT c_mktsegment, sp,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY sp, o_custkey) AS i
  FROM s
), a AS (
  SELECT c_mktsegment, count(*) AS n,
         CAST(CAST(sum(CAST(i AS DECIMAL(20,0)) * sp) AS VARCHAR) AS DOUBLE)
           AS ws,
         CAST(CAST(sum(sp) AS VARCHAR) AS DOUBLE) AS tot
  FROM r GROUP BY c_mktsegment
)
SELECT c_mktsegment, n, tot AS total_spend,
       (2.0 * ws) / (CAST(n AS DOUBLE) * tot)
       - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
FROM a
"""


# ---------------------------------------------------------------------------
# q133 — cross-table referential-integrity audit: orphan counts for
# every FK edge of the schema in one result — the data-quality sweep a
# warehouse runs after every load (anti-join per edge, all counts exact).
# ---------------------------------------------------------------------------


def q133_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")

    def orphans(child, fk, parent, pk):
        return (
            child.select(F.col(fk).alias("k"))
            .join(parent.select(F.col(pk).alias("k")), "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    edges = [
        ("lineitem.l_orderkey->orders", orphans(li, "l_orderkey", o, "o_orderkey")),
        ("lineitem.l_partkey->part", orphans(li, "l_partkey", p, "p_partkey")),
        ("lineitem.l_suppkey->supplier", orphans(li, "l_suppkey", s, "s_suppkey")),
        ("orders.o_custkey->customer", orphans(o, "o_custkey", c, "c_custkey")),
        ("customer.c_nationkey->nation", orphans(c, "c_nationkey", n, "n_nationkey")),
        ("supplier.s_nationkey->nation", orphans(s, "s_nationkey", n, "n_nationkey")),
    ]
    out = None
    for name, df in edges:
        row = df.select(
            F.lit(name).alias("fk_edge"), F.col("n").alias("n_orphans")
        )
        out = row if out is None else out.unionByName(row)
    return out


Q133_SQL = """
SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
UNION ALL
SELECT 'lineitem.l_partkey->part',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'customer.c_nationkey->nation',
       (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey))
UNION ALL
SELECT 'supplier.s_nationkey->nation',
       (SELECT count(*) FROM supplier s
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = s.s_nationkey))
"""


# ---------------------------------------------------------------------------
# q134 — mutual information between two categorical columns
# (returnflag × linestatus): the feature-relevance / association
# profiler.  Exact integer cell counts; the Σ p·log term folds over the
# SORTED cell list so the float accumulation order is pinned (same
# ordered-fold discipline as q122's Σn^α).
# ---------------------------------------------------------------------------


def q134_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("nxy")
    )
    margx = cells.groupBy("l_returnflag").agg(F.sum("nxy").alias("nx"))
    margy = cells.groupBy("l_linestatus").agg(F.sum("nxy").alias("ny"))
    tot = cells.agg(F.sum("nxy").alias("n"))
    joined = (
        cells.join(F.broadcast(margx), "l_returnflag")
        .join(F.broadcast(margy), "l_linestatus")
        .join(F.broadcast(tot))
    )
    nd = F.col("n").cast("double")
    term = (F.col("nxy").cast("double") / nd) * F.log(
        (F.col("nxy").cast("double") * nd)
        / (F.col("nx").cast("double") * F.col("ny").cast("double"))
    )
    per_cell = joined.select(
        F.struct(
            F.col("l_returnflag").alias("x"),
            F.col("l_linestatus").alias("y"),
            term.alias("t"),
        ).alias("s")
    )
    return per_cell.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.aggregate(
            F.array_sort(F.collect_list("s")),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("mutual_info"),
    )


Q134_SQL = """
WITH cells AS (
  SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS nxy
  FROM lineitem GROUP BY 1, 2
), mx AS (
  SELECT x, sum(nxy) AS nx FROM cells GROUP BY x
), my AS (
  SELECT y, sum(nxy) AS ny FROM cells GROUP BY y
), t AS (
  SELECT sum(nxy) AS n FROM cells
), j AS (
  SELECT cells.x, cells.y,
         (CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
         * ln((CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE))
              / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))) AS term
  FROM cells JOIN mx ON cells.x = mx.x
             JOIN my ON cells.y = my.y, t
)
SELECT count(*) AS n_cells,
       list_reduce(
         list_prepend(0.0::DOUBLE,
           list_transform(
             list_sort(list(struct_pack(x := x, y := y, t := term))),
             s -> s.t)),
         (acc, v) -> acc + v) AS mutual_info
FROM j
"""


# ---------------------------------------------------------------------------
# q135 — dense resample with LINEAR interpolation (operators/
# timeseries.py:resample_lerp): q75's grid with the line between
# bracketing observations instead of a held value.
# ---------------------------------------------------------------------------


def q135_resample_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    obs = e.groupBy(
        F.col("user_id"), F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.max("value").alias("value"))
    out = timeseries.resample_lerp(obs, "user_id", "day", "value")
    return out.filter(F.col("user_id") % 10 == 0)


Q135_SQL = """
WITH obs AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         max(value) AS value
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(day) AS lo, max(day) AS hi FROM obs GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
  FROM span
), j AS (
  SELECT g.user_id, g.day, o.value,
         epoch(g.day) AS sec,
         CASE WHEN o.value IS NOT NULL THEN epoch(g.day) END AS obs_sec
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day
), b AS (
  SELECT user_id, day, value, sec,
         last_value(value IGNORE NULLS) OVER wb AS pv,
         last_value(obs_sec IGNORE NULLS) OVER wb AS pt,
         first_value(value IGNORE NULLS) OVER wf AS nv,
         first_value(obs_sec IGNORE NULLS) OVER wf AS nt
  FROM j
  WINDOW wb AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day,
       CASE WHEN value IS NOT NULL THEN value
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            ELSE pv + (nv - pv) * (sec - pt) / (nt - pt) END AS value,
       value IS NULL AS is_filled
FROM b WHERE user_id % 10 = 0
"""


# ---------------------------------------------------------------------------
# q136 — SpaceSaving heavy hitters, batch run of the streaming sketch
# (streaming/stateful.py:streaming_heavy_hitters /
# heavy_hitters_batch — the SAME _spacesaving_merge fold the stream
# keeps as typed state).  events has ≤ k distinct event types, so the
# sketch is provably EXACT here and the oracle is the per-shard group
# count; the stream==batch equality is asserted in tests.  Shard hash
# is the portable md5 split so DuckDB replays it.
# ---------------------------------------------------------------------------

HH_SHARDS = 4
HH_K = 8


def q136_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.streaming import stateful

    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    shard_expr = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % HH_SHARDS
    )
    return stateful.heavy_hitters_batch(e, shard_expr, "event_type", k=HH_K)


Q136_SQL = f"""
WITH sharded AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % {HH_SHARDS} AS shard,
         event_type AS item
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
)
SELECT shard, item, count(*) AS count_est
FROM sharded GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q137 — event dedup, batch analogue of the streaming
# dropDuplicatesWithinWatermark path (streaming/events.py:
# streaming_dedup / dedup_events_batch): earliest row per
# (user_id, event_type), deterministic tie-breaks.
# ---------------------------------------------------------------------------


def q137_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.streaming import events as stream_events

    e = _t(spark, sf_dir, "events")
    return stream_events.dedup_events_batch(
        e, ["user_id", "event_type"]
    ).select("event_id", "ts", "user_id", "event_type", "value")


Q137_SQL = """
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q138 — per-user running totals, final-state equivalent of the
# applyInPandasWithState accumulator (streaming/stateful.py:
# running_user_totals; user_totals_batch is the stream==batch test
# oracle).  The registry form sums the 2-decimal value column with the
# exact-decimal trick so the result is bit-identical cross-engine.
# ---------------------------------------------------------------------------


def q138_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("value")).alias("total_value"),
        F.max("ts").alias("last_ts"),
    )


Q138_SQL = f"""
SELECT user_id, count(*) AS n_events,
       {_DSUM.format(x='value')} AS total_value,
       CAST(max(ts) AS TIMESTAMP) AS last_ts
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q139 — k-core decomposition over the tile-sharing near-dup graph
# (operators/graph.py:k_core): the graph-curation filter separating
# tight duplicate cliques (the core) from incidental links.  The
# oracle replays the simultaneous peel as unrolled rounds (peel order
# never matters — all sub-k nodes drop together, so a fixed unroll ≥
# the graph's peel depth is exact; the operator self-detects
# convergence, the oracle just over-provisions rounds).
# ---------------------------------------------------------------------------

K_CORE_K = 2
# Over-provisioned to the operator's max_rounds: peel order never
# matters, and extra rounds past convergence are no-ops on the oracle
# side — while an unroll SHORTER than the true peel depth would falsely
# mismatch.  The operator itself raises if max_rounds is ever hit
# unconverged, so oracle and engine can't silently diverge.
_KCORE_ROUNDS = 30


def q139_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = q20_rolling_overlap(spark, sf_dir).select("id_a", "id_b")
    return graph.k_core(edges, k=K_CORE_K)


def _kcore_sql() -> str:
    head = f"""
WITH n AS (
  SELECT doc_id AS id, {_NORM} AS s FROM documents
), w AS (
  SELECT id, list_distinct(list_transform(
           range(0, greatest(CAST(ceil(length(s) / {ROLL_W}.0) AS INTEGER), 1)),
           i -> md5(substr(s, i * {ROLL_W} + 1, {ROLL_W}))
         )) AS fps
  FROM n
), ex AS (
  SELECT id, fp FROM (SELECT id, unnest(fps) AS fp FROM w)
  QUALIFY count(*) OVER (PARTITION BY fp) <= {ROLL_MAX_DF}
), e AS MATERIALIZED (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM ex l JOIN ex r ON l.fp = r.fp AND l.id < r.id
), s0 AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
), d0 AS (
  SELECT u, count(*) AS cd FROM s0 GROUP BY 1
)"""
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f""", k{r - 1} AS (
  SELECT u FROM d{r - 1} WHERE cd >= {K_CORE_K}
), s{r} AS MATERIALIZED (
  SELECT s.u, s.v FROM s{r - 1} s
  JOIN k{r - 1} x ON s.u = x.u JOIN k{r - 1} y ON s.v = y.u
), d{r} AS (
  SELECT u, count(*) AS cd FROM s{r} GROUP BY 1
)""")
    tail = (
        f"\nSELECT u AS node, cd AS core_degree FROM d{_KCORE_ROUNDS}"
        f" WHERE cd >= {K_CORE_K}"
    )
    return head + "".join(rounds) + tail


Q139_SQL = _kcore_sql()


# ---------------------------------------------------------------------------
# q140 — stratified sample with EXACT per-stratum allocation
# (operators/splits.py:stratified_exact_sample): ceil(n_g/5) docs per
# language, chosen by the md5 keystream — integer-rational target, no
# IEEE ceil.
# ---------------------------------------------------------------------------


def q140_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return splits.stratified_exact_sample(
        docs, "lang", "doc_id", frac_num=1, frac_den=5
    ).select("doc_id", "lang")


Q140_SQL = """
WITH t AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(lang || ':' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang FROM t WHERE rn <= (n + 4) // 5
"""


# ---------------------------------------------------------------------------
# q141 — Fellegi–Sunter probabilistic record linkage
# (operators/fuzzy_join.py:record_linkage_scores): part snapshots
# blocked on brand, integer milli-unit log-likelihood weights.
# ---------------------------------------------------------------------------

FS_FIELDS = {"p_type": (1200, -800), "p_size": (900, -600)}
FS_MIN_SCORE = 300


def q141_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    a = p.filter(F.col("p_partkey") % 3 == 0)
    b = p.filter(F.col("p_partkey") % 3 != 0)
    return fuzzy_join.record_linkage_scores(
        a, b, "p_brand", FS_FIELDS, "p_partkey", "p_partkey",
        min_score=FS_MIN_SCORE,
    )


Q141_SQL = f"""
WITH a AS (
  SELECT p_partkey, p_brand, p_type, p_size FROM part WHERE p_partkey % 3 = 0
), b AS (
  SELECT p_partkey, p_brand, p_type, p_size FROM part WHERE p_partkey % 3 <> 0
), j AS (
  SELECT a.p_partkey AS a_p_partkey, b.p_partkey AS b_p_partkey,
         CAST(CASE WHEN a.p_type IS NOT DISTINCT FROM b.p_type
                   THEN 1200 ELSE -800 END
            + CASE WHEN a.p_size IS NOT DISTINCT FROM b.p_size
                   THEN 900 ELSE -600 END AS BIGINT) AS score_milli,
         CAST(CASE WHEN a.p_type IS NOT DISTINCT FROM b.p_type
                   THEN 1 ELSE 0 END
            + CASE WHEN a.p_size IS NOT DISTINCT FROM b.p_size
                   THEN 1 ELSE 0 END AS BIGINT) AS n_agree
  FROM a JOIN b ON a.p_brand = b.p_brand
)
SELECT * FROM j WHERE score_milli >= {FS_MIN_SCORE}
"""


# ---------------------------------------------------------------------------
# q142 — Kaplan–Meier time-to-purchase survival curve
# (operators/timeseries.py:kaplan_meier): per-user duration from first
# event to first purchase (censored at last event otherwise), exact
# integer risk table, sequential product folds — bit-identical, no
# rounding.
# ---------------------------------------------------------------------------


def q142_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
        F.max("ts").alias("tmax"),
    )
    subj = per_user.select(
        (
            F.unix_micros(F.coalesce(F.col("tp"), F.col("tmax")))
            - F.unix_micros(F.col("t0"))
        ).alias("duration"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("event"),
    )
    return timeseries.kaplan_meier(subj, "duration", "event")


Q142_SQL = """
WITH per_user AS (
  SELECT user_id, min(ts) AS t0,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
         max(ts) AS tmax
  FROM events GROUP BY 1
), subj AS (
  SELECT epoch_us(coalesce(tp, tmax)) - epoch_us(t0) AS duration,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per_user
), tbl AS (
  SELECT duration AS t, CAST(sum(ev) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS leave
  FROM subj GROUP BY 1
), risk AS (
  SELECT t, d,
         CAST(sum(leave) OVER ()
              - coalesce(sum(leave) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_risk
  FROM tbl
), one AS (
  SELECT list_sort(list({'t': t, 'd': d, 'n_risk': n_risk})) AS evt
  FROM risk WHERE d > 0
), idx AS (
  SELECT unnest(range(1, len(evt) + 1)) AS i, evt FROM one
)
-- survival per row = independent sequential prefix-product fold (the
-- same multiply sequence the engine-side running fold performs, so
-- every prefix is bit-identical; DuckDB 1.0 list_reduce cannot carry a
-- struct accumulator, hence scalar folds per row — O(m^2) only at
-- oracle scale)
SELECT evt[CAST(i AS INTEGER)].t AS t,
       evt[CAST(i AS INTEGER)].n_risk AS n_risk,
       evt[CAST(i AS INTEGER)].d AS n_events,
       list_reduce(
         list_prepend(CAST(1.0 AS DOUBLE),
           list_transform(list_slice(evt, 1, CAST(i AS INTEGER)),
             s -> CAST(1.0 AS DOUBLE)
                  - CAST(s.d AS DOUBLE) / CAST(s.n_risk AS DOUBLE))),
         (a, v) -> a * v) AS survival
FROM idx
"""


# ---------------------------------------------------------------------------
# q143 — winnowing local-fingerprint overlap pairs (operators/dedup.py:
# winnowing_pairs over functions/text.py:winnowing_fingerprints): the
# MOSS plagiarism-detection tier; alignment-invariant unlike stride
# tiles.  Oracle replays gram hashing, window minima, the df cap, and
# the pair join.  WINNOW_MAX_DF is the MOSS boilerplate filter: a
# fingerprint shared by d docs emits d² join pairs, and measured at
# sf0.1 the df>100 fingerprints carried 41.6M of 42.9M pair emissions
# (97%) — all template/license noise, capped before the join.
# ---------------------------------------------------------------------------

WINNOW_K = 8
WINNOW_W = 8
WINNOW_MIN_SHARED = 2
WINNOW_MAX_DF = 100


def q143_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.winnowing_pairs(
        docs, k=WINNOW_K, w=WINNOW_W, min_shared=WINNOW_MIN_SHARED,
        max_df=WINNOW_MAX_DF,
    )


Q143_SQL = f"""
WITH n AS (
  SELECT doc_id AS id, {_NORM} AS s FROM documents
), g AS (
  SELECT id, list_transform(
           range(0, greatest(length(s) - {WINNOW_K - 1}, 1)),
           i -> struct_pack(
             h := ('0x' || substr(md5(substr(s, CAST(i AS INTEGER) + 1,
                                             {WINNOW_K})), 1, 8))::BIGINT,
             pos := CAST(i AS INTEGER))) AS arr
  FROM n WHERE s IS NOT NULL
), sel AS (
  SELECT id, list_distinct(list_transform(
           range(0, greatest(len(arr) - {WINNOW_W - 1}, 1)),
           sx -> list_reduce(
                   list_slice(arr, CAST(sx AS INTEGER) + 1,
                              CAST(sx AS INTEGER) + {WINNOW_W}),
                   (a, x) -> CASE WHEN x.h < a.h THEN x ELSE a END).h
         )) AS hs
  FROM g
), ex0 AS (
  SELECT DISTINCT id, unnest(hs) AS h FROM sel
), ex AS (
  SELECT id, h FROM ex0
  WHERE h NOT IN (SELECT h FROM ex0 GROUP BY h
                  HAVING count(*) > {WINNOW_MAX_DF})
)
SELECT l.id AS id_a, r.id AS id_b, count(*) AS n_shared
FROM ex l JOIN ex r ON l.h = r.h AND l.id < r.id
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# q144 — BPE merge learning (operators/vocab.py:bpe_merges): the first
# R tokenizer merges from the corpus word-type table.  Deterministic
# end-to-end (argmax ties break pair-asc; merges apply left-to-right
# non-overlapping), so the oracle replays all R rounds as unrolled
# materialized CTE stages with the same fold.
# ---------------------------------------------------------------------------

BPE_ROUNDS = 4


def q144_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return vocab.bpe_merges(docs, rounds=BPE_ROUNDS)


def _bpe_sql() -> str:
    head = r"""
WITH w0 AS MATERIALIZED (
  SELECT list_transform(range(1, length(w) + 1),
           i -> substr(w, CAST(i AS INTEGER), 1)) AS syms,
         count(*) AS freq
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents WHERE text IS NOT NULL)
  WHERE w <> ''
  GROUP BY w
)"""
    stages = []
    for r in range(1, BPE_ROUNDS + 1):
        # DuckDB 1.0 lambda notes: struct_pack with a CAST-typed array
        # field fails to parse, and list_reduce mis-evaluates STRUCT
        # accumulators (fields fold independently) — so pair structs use
        # brace literals and the merge fold carries a plain VARCHAR[]
        # accumulator.  "Replace the trailing symbol when it equals l
        # and the next is r" is exactly the prev-pending fold (the
        # merged token l||r can never equal l — it is strictly longer),
        # so both engines perform the same left-to-right
        # non-overlapping merge.
        stages.append(f""", p{r} AS MATERIALIZED (
  SELECT (pr).l AS l, (pr).r AS r, CAST(sum(freq) AS BIGINT) AS c
  FROM (SELECT unnest(list_transform(range(1, len(syms)),
          i -> {{'l': syms[CAST(i AS INTEGER)],
                 'r': syms[CAST(i AS INTEGER) + 1]}})) AS pr,
               freq
        FROM w{r - 1} WHERE len(syms) >= 2)
  GROUP BY 1, 2
), b{r} AS MATERIALIZED (
  SELECT l, r, c FROM p{r} ORDER BY c DESC, l, r LIMIT 1
), w{r} AS MATERIALIZED (
  SELECT list_reduce(
           list_prepend(CAST([] AS VARCHAR[]),
                        list_transform(syms, s -> [s])),
           (a, x) -> CASE
             WHEN len(a) > 0 AND a[len(a)] = b.l AND x[1] = b.r
               THEN list_append(list_slice(a, 1, len(a) - 1), b.l || b.r)
             ELSE list_append(a, x[1]) END) AS syms,
         freq
  FROM w{r - 1}, b{r} b
)""")
    finals = "\nUNION ALL ".join(
        f"SELECT {r} AS round, l AS merge_left, r AS merge_right, "
        f"l || r AS merged, c AS pair_count FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return head + "".join(stages) + "\n" + finals


Q144_SQL = _bpe_sql()


def _bpe_encode_sql() -> str:
    # q163: the same unrolled learn pipeline, finished by the token
    # histogram of the final symbol table instead of the merge list
    full = Q144_SQL
    # the merge-list finals start at the only "\nSELECT " (the UNION ALL
    # branches are "\nUNION ALL SELECT")
    head_and_stages = full[: full.rindex("\nSELECT ")]
    return head_and_stages + f"""
SELECT t AS token, CAST(count(*) AS BIGINT) AS n_positions,
       CAST(sum(freq) AS BIGINT) AS token_count
FROM (SELECT unnest(syms) AS t, freq FROM w{BPE_ROUNDS})
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q145/q146 — model evaluation: exact ROC-AUC and calibration deciles of
# the heuristic quality score against an English-language label
# (operators/evaluation.py).  AUC is the rank-sum identity in integer
# arithmetic; calibration bins are exact-rank deciles with decimal-sum
# mean scores.
# ---------------------------------------------------------------------------

_QUALITY_CTE = rf"""
qm AS (
  SELECT doc_id, lang,
         CAST(length(text) AS DOUBLE) AS n,
         regexp_replace(text, '\s+', '', 'g') AS nonspace,
         string_split({_NORM}, ' ') AS toks
  FROM documents
), qr AS (
  SELECT doc_id, lang, n,
         CASE WHEN length(nonspace) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(nonspace, '[A-Za-z0-9]', '', 'g')) AS DOUBLE)
                   / CAST(length(nonspace) AS DOUBLE) END AS punct,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         END AS uniq
  FROM qm
), scored AS (
  SELECT doc_id,
         round(0.4 * (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                           WHEN n < 100 THEN n / 100.0
                           ELSE 20000.0 / n END)
             + 0.3 * (1.0 - least(punct * 4, 1.0))
             + 0.3 * uniq, 6) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM qr
)"""


def _quality_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.quality_score(F.col("text")).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )


def q145_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluation.roc_auc(_quality_labeled(spark, sf_dir), "score", "label")


Q145_SQL = f"""
WITH {_QUALITY_CTE}, g AS (
  SELECT score AS s, CAST(sum(label) AS BIGINT) AS p,
         CAST(sum(1 - label) AS BIGINT) AS n
  FROM scored GROUP BY 1
), ranked AS (
  SELECT p, n,
         CAST(coalesce(sum(p + n) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cumb
  FROM g
), agg AS (
  SELECT CAST(sum(p) AS BIGINT) AS P, CAST(sum(n) AS BIGINT) AS N,
         CAST(sum(p * (2 * cumb + p + n + 1)) AS BIGINT) AS twoR
  FROM ranked
)
SELECT P AS n_pos, N AS n_neg,
       CAST(twoR - P * (P + 1) AS DOUBLE) / CAST(2 * P * N AS DOUBLE) AS auc
FROM agg
"""


CAL_BINS = 10


def q146_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluation.calibration_bins(
        _quality_labeled(spark, sf_dir), "score", "label", "doc_id",
        bins=CAL_BINS,
    )


Q146_SQL = f"""
WITH {_QUALITY_CTE}, binned AS (
  SELECT score, label,
         (CAST(row_number() OVER (ORDER BY score, doc_id) - 1 AS BIGINT)
          * {CAL_BINS}) // count(*) OVER () AS bin
  FROM scored
)
SELECT bin, count(*) AS n_rows, CAST(sum(label) AS BIGINT) AS n_pos,
       CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate,
       CAST(sum(CAST(round(score, 6) AS DECIMAL(18,6))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mean_score
FROM binned GROUP BY bin
"""


# ---------------------------------------------------------------------------
# q147 — Jensen-Shannon divergence between English and non-English token
# distributions (operators/profile.py:js_divergence_tokens): the
# bounded symmetric corpus-shift readout; sorted-fold float sum.
# ---------------------------------------------------------------------------


def q147_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return profile.js_divergence_tokens(
        docs, "text", F.col("lang") == "en"
    )


Q147_SQL = rf"""
WITH tok AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS sl,
         unnest(string_split({_NORM}, ' ')) AS t
  FROM documents
), tok2 AS (
  SELECT sl, t FROM tok WHERE t <> ''
), counts AS (
  SELECT t, CAST(sum(CASE WHEN sl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN sl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM tok2 GROUP BY 1
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb
  FROM counts
), terms AS (
  SELECT t, ca, cb,
         (CASE WHEN ca > 0 THEN
            0.5 * (CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))
            * ln(2.0 * (CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))
                 / ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))
                    + (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))))
          ELSE 0.0 END
          +
          CASE WHEN cb > 0 THEN
            0.5 * (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
            * ln(2.0 * (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
                 / ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))
                    + (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))))
          ELSE 0.0 END) AS vraw
  FROM counts, tot
), terms2 AS (
  SELECT t, ca, cb, round(vraw, 12) AS v FROM terms
)
SELECT count(*) AS vocab_size,
       CAST(sum(ca) AS BIGINT) AS n_tokens_a,
       CAST(sum(cb) AS BIGINT) AS n_tokens_b,
       list_reduce(
         list_prepend(0.0::DOUBLE,
           list_transform(
             list_sort(list(struct_pack(t := t, v := v))), s -> s.v)),
         (acc, x) -> acc + x) AS jsd
FROM terms2
"""


# ---------------------------------------------------------------------------
# q148 — Population Stability Index of order totals between the mod-7 /
# mod-11 snapshot split (operators/profile.py:psi): the industry drift
# gate; shared-bucket-only sum, single-side buckets counted.
# ---------------------------------------------------------------------------

PSI_BUCKET = 10_000


def q148_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 7 != 0)
    new = o.filter(F.col("o_orderkey") % 11 != 0)
    b = F.floor(F.col("o_totalprice") / PSI_BUCKET).cast("long")
    return profile.psi(old, new, b)


Q148_SQL = f"""
WITH oc AS (
  SELECT CAST(floor(o_totalprice / {PSI_BUCKET}) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS co
  FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY 1
), nc AS (
  SELECT CAST(floor(o_totalprice / {PSI_BUCKET}) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS cn
  FROM orders WHERE o_orderkey % 11 <> 0 GROUP BY 1
), both_t AS (
  SELECT coalesce(oc.b, nc.b) AS b, co, cn
  FROM oc FULL OUTER JOIN nc ON oc.b = nc.b
), tot AS (
  SELECT CAST(sum(co) AS BIGINT) AS tco, CAST(sum(cn) AS BIGINT) AS tcn
  FROM both_t
), terms AS (
  SELECT b, co IS NOT NULL AND cn IS NOT NULL AS sh,
         co IS NOT NULL AS has_o, cn IS NOT NULL AS has_n,
         CASE WHEN co IS NOT NULL AND cn IS NOT NULL THEN
           ((CAST(co AS DOUBLE) / CAST(tco AS DOUBLE))
            - (CAST(cn AS DOUBLE) / CAST(tcn AS DOUBLE)))
           * ln((CAST(co AS DOUBLE) / CAST(tco AS DOUBLE))
                / (CAST(cn AS DOUBLE) / CAST(tcn AS DOUBLE)))
         END AS vraw
  FROM both_t, tot
)
SELECT CAST(sum(CASE WHEN sh THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_shared,
       CAST(sum(CASE WHEN has_o AND NOT sh THEN 1 ELSE 0 END) AS BIGINT)
         AS n_buckets_old_only,
       CAST(sum(CASE WHEN has_n AND NOT sh THEN 1 ELSE 0 END) AS BIGINT)
         AS n_buckets_new_only,
       list_reduce(
         list_prepend(0.0::DOUBLE,
           list_transform(
             list_sort(list(CASE WHEN sh
                            THEN struct_pack(b := b, v := round(vraw, 12)) END)),
             s -> CASE WHEN s IS NULL THEN 0.0 ELSE s.v END)),
         (acc, x) -> acc + x) AS psi
FROM terms
"""


# ---------------------------------------------------------------------------
# q149 — MMR diversified re-ranking of the exact top-16 cosine pool
# (operators/similarity.py:mmr_rerank): greedy λ-tradeoff selection,
# oracle replays the unrolled greedy stages.
# ---------------------------------------------------------------------------

MMR_POOL = 16
MMR_K = 5


def q149_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == KNN_QUERY_ID).select("embedding").first()
    return similarity.mmr_rerank(
        emb.filter(F.col("vec_id") != KNN_QUERY_ID),
        list(qrow["embedding"]),
        k=MMR_K,
        pool=MMR_POOL,
    )


def _mmr_sql() -> str:
    head = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id = {KNN_QUERY_ID}
), pool AS MATERIALIZED (
  SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS v,
         round(
           list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> e.embedding[i]::DOUBLE * q.qv[i]))
           / (sqrt(list_sum(list_transform(e.embedding,
                            x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
         6) AS qcos
  FROM embeddings e, q WHERE e.vec_id <> {KNN_QUERY_ID}
  ORDER BY qcos DESC NULLS LAST, e.vec_id LIMIT {MMR_POOL}
), pc AS MATERIALIZED (
  SELECT a.id AS ia, b.id AS ib,
         round(
           list_sum(list_transform(range(1, len(a.v) + 1),
                    i -> a.v[i] * b.v[i]))
           / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
              * sqrt(list_sum(list_transform(b.v, x -> x * x)))),
         6) AS c
  FROM pool a, pool b WHERE a.id <> b.id
), sel1 AS MATERIALIZED (
  SELECT 1 AS rank, id, qcos, CAST(NULL AS DOUBLE) AS max_sim,
         qcos AS mmr_score
  FROM pool ORDER BY qcos DESC, id LIMIT 1
), all1 AS (SELECT id FROM sel1)"""
    stages = []
    for r in range(2, MMR_K + 1):
        stages.append(f""", ms{r} AS (
  SELECT pc.ia AS id, max(pc.c) AS ms
  FROM pc WHERE pc.ib IN (SELECT id FROM all{r - 1})
  GROUP BY 1
), sel{r} AS MATERIALIZED (
  SELECT {r} AS rank, p.id, p.qcos, m.ms AS max_sim,
         (p.qcos * 1 - m.ms * 1) / 2 AS mmr_score
  FROM pool p JOIN ms{r} m ON p.id = m.id
  WHERE p.id NOT IN (SELECT id FROM all{r - 1})
  ORDER BY mmr_score DESC, p.id LIMIT 1
), all{r} AS (
  SELECT id FROM all{r - 1} UNION ALL SELECT id FROM sel{r}
)""")
    finals = "\nUNION ALL ".join(
        f"SELECT rank, id AS vec_id, qcos, max_sim, mmr_score FROM sel{r}"
        for r in range(1, MMR_K + 1)
    )
    return head + "".join(stages) + "\n" + finals


Q149_SQL = _mmr_sql()


# ---------------------------------------------------------------------------
# q150 — NDCG@10 of the exact cosine ranking against a same-label
# relevance standard (operators/evaluation.py:ndcg_at_k): retrieval
# quality readout; log2 discounts are Python-literal doubles so no
# engine log is evaluated.
# ---------------------------------------------------------------------------

NDCG_K = 10


def q150_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == KNN_QUERY_ID).select(
        "embedding", "label"
    ).first()
    knn = similarity.brute_force_knn(
        emb.filter(F.col("vec_id") != KNN_QUERY_ID),
        list(qrow["embedding"]),
        k=NDCG_K,
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    ranked = (
        knn.withColumn("rank", F.row_number().over(w))
        .join(emb.select("vec_id", "label"), "vec_id")
        .select(
            "rank",
            F.when(F.col("label") == F.lit(int(qrow["label"])), 1.0)
            .otherwise(0.0)
            .alias("rel"),
        )
    )
    return evaluation.ndcg_at_k(ranked, "rank", "rel", NDCG_K)


def _ndcg_sql() -> str:
    import math

    # e-notation literals parse directly as DOUBLE in DuckDB; plain
    # decimal literals unify the array to DECIMAL(17,16) and the cast
    # back to DOUBLE double-rounds 3 of the 10 discounts (1-ULP skew)
    discs = ", ".join(
        f"{1.0 / math.log2(r + 1):.17e}" for r in range(1, NDCG_K + 1)
    )
    return f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv, label AS qlabel FROM embeddings
  WHERE vec_id = {KNN_QUERY_ID}
), scored AS (
  SELECT e.vec_id, e.label,
         round(
           list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> e.embedding[i]::DOUBLE * q.qv[i]))
           / (sqrt(list_sum(list_transform(e.embedding,
                            x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
         6) AS cosine,
         q.qlabel
  FROM embeddings e, q WHERE e.vec_id <> {KNN_QUERY_ID}
), ranked AS (
  SELECT row_number() OVER (ORDER BY cosine DESC NULLS LAST, vec_id)
           AS r,
         CASE WHEN label = qlabel THEN 1.0 ELSE 0.0 END AS rel
  FROM scored
  ORDER BY cosine DESC NULLS LAST, vec_id LIMIT {NDCG_K}
), one AS (
  SELECT list_sort(list({{'r': CAST(r AS INTEGER), 'rel': rel}})) AS arr,
         [{discs}]::DOUBLE[] AS discs
  FROM ranked
), calc AS (
  SELECT len(arr) AS n_ranked,
         list_reduce(
           list_prepend(0.0::DOUBLE,
             list_transform(arr, s -> s.rel * discs[s.r])),
           (a, v) -> a + v) AS dcg,
         list_reduce(
           list_prepend(0.0::DOUBLE,
             list_transform(range(1, len(arr) + 1),
               i -> list_sort(list_transform(arr, s -> -s.rel))
                      [CAST(i AS INTEGER)] * -1.0
                    * discs[CAST(i AS INTEGER)])),
           (a, v) -> a + v) AS idcg
  FROM one
)
SELECT {NDCG_K} AS k, n_ranked, dcg, idcg,
       CASE WHEN idcg > 0 THEN dcg / idcg END AS ndcg
FROM calc
"""


Q150_SQL = _ndcg_sql()


# ---------------------------------------------------------------------------
# q151 — end-to-end entity resolution: Fellegi-Sunter linkage edges at
# the both-fields-agree threshold → connected components → entity
# summary (operators/fuzzy_join.py + graph.py — the dedup-entities
# composition; oracle replays linkage + recursive closure).
# ---------------------------------------------------------------------------

ER_MIN_SCORE = 2000


def q151_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    a = p.filter(F.col("p_partkey") % 3 == 0)
    b = p.filter(F.col("p_partkey") % 3 != 0)
    edges = fuzzy_join.record_linkage_scores(
        a, b, "p_brand", FS_FIELDS, "p_partkey", "p_partkey",
        min_score=ER_MIN_SCORE,
    ).select("a_p_partkey", "b_p_partkey")
    cc = graph.connected_components(
        edges, src="a_p_partkey", dst="b_p_partkey"
    )
    return cc.groupBy(F.col("component").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_records")
    )


Q151_SQL = f"""
WITH RECURSIVE a AS (
  SELECT p_partkey, p_brand, p_type, p_size FROM part WHERE p_partkey % 3 = 0
), b AS (
  SELECT p_partkey, p_brand, p_type, p_size FROM part WHERE p_partkey % 3 <> 0
), e AS (
  SELECT a.p_partkey AS u, b.p_partkey AS v
  FROM a JOIN b ON a.p_brand = b.p_brand
  WHERE (CASE WHEN a.p_type IS NOT DISTINCT FROM b.p_type
              THEN 1200 ELSE -800 END
       + CASE WHEN a.p_size IS NOT DISTINCT FROM b.p_size
              THEN 900 ELSE -600 END) >= {ER_MIN_SCORE}
), sym AS (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
), reach AS (
  SELECT DISTINCT u AS id, u AS lbl FROM sym
  UNION
  SELECT s.u AS id, r.lbl
  FROM sym s JOIN reach r ON r.id = s.v
), comp AS (
  SELECT id, min(lbl) AS component FROM reach GROUP BY id
)
SELECT component AS entity_id, CAST(count(*) AS BIGINT) AS n_records
FROM comp GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q152 — PPJoin prefix-filtered n-gram Jaccard at its design threshold
# (operators/dedup.py:ngram_jaccard_pairs with prefix_filter=True,
# t=0.8): promoted from the bench-only extra x14.  The prefix filter is
# LOSSLESS (a pair above t must share a gram inside the (1-t)-prefix of
# rarest grams), so the oracle is the plain blocked Jaccard join at the
# same threshold — tier equality is also pytest-proven at several
# thresholds.  q14's t=0.2 keeps the count-tier oracle coverage; this
# entry oracle-gates the prefix tier at the threshold it exists for.
# ---------------------------------------------------------------------------

PPJOIN_T = 0.8


def q152_ngram_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, ngram_n=SHINGLE_N, threshold=PPJOIN_T,
        block_col="lang", prefix_filter=True,
    )


Q152_SQL = f"""
WITH d AS (
  SELECT doc_id AS id, lang,
         string_split({_NORM_SQL.format(x='text')}, ' ') AS toks
  FROM documents
), g AS (
  SELECT id, lang, list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_N - 1}, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_N - 1}), ' ')
         )) AS grams
  FROM d
), pairs AS (
  SELECT l.id AS id_a, r.id AS id_b,
         len(list_intersect(l.grams, r.grams)) * 1.0
           / len(list_distinct(list_concat(l.grams, r.grams))) AS jaccard
  FROM g l JOIN g r ON l.lang = r.lang AND l.id < r.id
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {PPJOIN_T}
"""


# ---------------------------------------------------------------------------
# q153-q155 — classifier evaluation II (operators/evaluation.py):
# fixed-point average precision (the rare-positive companion to AUC),
# confusion matrix at a deployment threshold, and Cohen's kappa between
# two labelers.  All integer arithmetic until one closing division;
# AP's per-threshold terms are floor-quantized to 1e-12 in DECIMAL/
# HUGEINT so the sum is partition-order and engine independent.
# ---------------------------------------------------------------------------

AP_SCALE = 10**12
CONF_THRESHOLD = 0.5


def q153_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluation.average_precision(
        _quality_labeled(spark, sf_dir), "score", "label", scale=AP_SCALE
    )


Q153_SQL = f"""
WITH {_QUALITY_CTE}, g AS (
  SELECT score AS s, CAST(sum(label) AS BIGINT) AS p,
         CAST(sum(1 - label) AS BIGINT) AS n
  FROM scored GROUP BY 1
), ranked AS (
  -- aliases must not collide with p/n: DuckDB identifiers are
  -- case-insensitive, so "AS P" would resolve back to column p
  SELECT p, n,
         CAST(coalesce(sum(p) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cbp,
         CAST(coalesce(sum(n) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cbn,
         CAST(sum(p) OVER () AS BIGINT) AS ptot,
         CAST(sum(n) OVER () AS BIGINT) AS ntot
  FROM g
), terms AS (
  SELECT ptot, ntot,
         (p::HUGEINT * (ptot - cbp)::HUGEINT * {AP_SCALE})
           // (ptot::HUGEINT * ((ptot - cbp) + (ntot - cbn))::HUGEINT) AS t
  FROM ranked
)
SELECT max(ptot) AS n_pos, max(ntot) AS n_neg,
       CAST(sum(t) AS DOUBLE) / {float(AP_SCALE)} AS ap
FROM terms
"""


def q154_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluation.confusion_at_threshold(
        _quality_labeled(spark, sf_dir), "score", "label", CONF_THRESHOLD
    )


Q154_SQL = f"""
WITH {_QUALITY_CTE}, c AS (
  SELECT
    CAST(sum(CASE WHEN score >= {CONF_THRESHOLD} AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN score >= {CONF_THRESHOLD} AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN score < {CONF_THRESHOLD} AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(sum(CASE WHEN score < {CONF_THRESHOLD} AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM scored
)
SELECT tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       CASE WHEN tp + fn > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
       END AS f1,
       CASE WHEN tp + fp + fn + tn > 0
            THEN CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
       END AS accuracy
FROM c
"""


def q155_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    rated = docs.select(
        F.when(F.col("lang") == "en", "en").otherwise("other").alias("ra"),
        F.when(
            T.quality_score(F.col("text")) >= CONF_THRESHOLD, "en"
        ).otherwise("other").alias("rb"),
    )
    return evaluation.cohens_kappa(rated, "ra", "rb")


Q155_SQL = f"""
WITH {_QUALITY_CTE}, labels AS (
  SELECT doc_id,
         CASE WHEN label = 1 THEN 'en' ELSE 'other' END AS ra,
         CASE WHEN score >= {CONF_THRESHOLD} THEN 'en' ELSE 'other' END AS rb
  FROM scored
), diag AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM labels
), ma AS (
  SELECT ra AS c, CAST(count(*) AS BIGINT) AS ca FROM labels GROUP BY 1
), mb AS (
  SELECT rb AS c, CAST(count(*) AS BIGINT) AS cb FROM labels GROUP BY 1
), ee AS (
  SELECT coalesce(sum(ca::HUGEINT * cb::HUGEINT), 0::HUGEINT) AS e
  FROM ma JOIN mb USING (c)
)
SELECT n AS n_rows, agree AS n_agree,
       CASE WHEN n::HUGEINT * n::HUGEINT - e > 0
            THEN CAST(n::HUGEINT * agree::HUGEINT - e AS DOUBLE)
                 / CAST(n::HUGEINT * n::HUGEINT - e AS DOUBLE)
       END AS kappa
FROM diag, ee
"""


# ---------------------------------------------------------------------------
# q156-q158 — corpus-distribution profiling (operators/profile.py /
# text_analysis.py): Gini inequality of type frequencies (rank-weighted
# integer identity over the frequency histogram, ranks from the
# distributed two-level prefix scan), Chao1 unseen-vocab estimate, and
# the Zipf log-log OLS over the top-1000 head.
# ---------------------------------------------------------------------------

_TOK_CTE = f"""
tok0 AS (
  SELECT unnest(string_split({_NORM}, ' ')) AS t FROM documents
), tok AS (
  SELECT t FROM tok0 WHERE t <> ''
), types AS (
  SELECT t, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY 1
)"""


def q156_gini_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return profile.gini_token_frequencies(docs, "text")


Q156_SQL = f"""
WITH {_TOK_CTE}, fhist AS (
  SELECT f AS x, CAST(count(*) AS BIGINT) AS cnt FROM types GROUP BY 1
), ranked AS (
  SELECT x, cnt,
         CAST(coalesce(sum(cnt) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cumb
  FROM fhist
), agg AS (
  SELECT CAST(sum(cnt) AS HUGEINT) AS n,
         sum(x::HUGEINT * cnt::HUGEINT) AS T,
         sum(x::HUGEINT * cnt::HUGEINT
             * (2::HUGEINT * cumb::HUGEINT + cnt::HUGEINT + 1::HUGEINT))
           AS twoS
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_types, CAST(T AS BIGINT) AS n_tokens,
       CAST(twoS - (n + 1) * T AS DOUBLE) / CAST(n * T AS DOUBLE) AS gini
FROM agg
"""


def q157_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return profile.chao1_vocab_richness(docs, "text")


Q157_SQL = f"""
WITH {_TOK_CTE}
SELECT CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       CAST(count(*) AS DOUBLE)
         + CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)::HUGEINT
                * (sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) - 1)::HUGEINT
             AS DOUBLE)
           / CAST(2 * (sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) + 1) AS DOUBLE)
         AS chao1
FROM types
"""

ZIPF_TOP_K = 1000


def q158_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.zipf_fit(docs, "text", top_k=ZIPF_TOP_K)


Q158_SQL = f"""
WITH {_TOK_CTE}, head AS (
  SELECT t, f FROM types ORDER BY f DESC, t LIMIT {ZIPF_TOP_K}
), ranked AS (
  SELECT row_number() OVER (ORDER BY f DESC, t) AS r, f FROM head
), terms AS (
  SELECT list_sort(list({{'r': CAST(r AS BIGINT),
                          'x': round(ln(CAST(r AS DOUBLE)), 12),
                          'y': round(ln(CAST(f AS DOUBLE)), 12)}})) AS arr,
         CAST(count(*) AS BIGINT) AS n_ranks
  FROM ranked
), sums AS (
  SELECT n_ranks,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(arr, s -> s.x)), (a, v) -> a + v) AS sx,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(arr, s -> s.y)), (a, v) -> a + v) AS sy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(arr, s -> s.x * s.y)), (a, v) -> a + v) AS sxy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(arr, s -> s.x * s.x)), (a, v) -> a + v) AS sxx,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(arr, s -> s.y * s.y)), (a, v) -> a + v) AS syy
  FROM terms
)
SELECT n_ranks,
       CASE WHEN CAST(n_ranks AS DOUBLE) * sxx - sx * sx > 0
            THEN (CAST(n_ranks AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n_ranks AS DOUBLE) * sxx - sx * sx) END AS slope,
       CASE WHEN CAST(n_ranks AS DOUBLE) * sxx - sx * sx > 0
            THEN (sy - ((CAST(n_ranks AS DOUBLE) * sxy - sx * sy)
                        / (CAST(n_ranks AS DOUBLE) * sxx - sx * sx)) * sx)
                 / CAST(n_ranks AS DOUBLE) END AS intercept,
       CASE WHEN CAST(n_ranks AS DOUBLE) * sxx - sx * sx > 0
             AND CAST(n_ranks AS DOUBLE) * syy - sy * sy > 0
            THEN ((CAST(n_ranks AS DOUBLE) * sxy - sx * sy)
                  / (sqrt(CAST(n_ranks AS DOUBLE) * sxx - sx * sx)
                     * sqrt(CAST(n_ranks AS DOUBLE) * syy - sy * sy)))
                 * ((CAST(n_ranks AS DOUBLE) * sxy - sx * sy)
                    / (sqrt(CAST(n_ranks AS DOUBLE) * sxx - sx * sx)
                       * sqrt(CAST(n_ranks AS DOUBLE) * syy - sy * sy)))
       END AS r2
FROM sums
"""


# ---------------------------------------------------------------------------
# q159-q160 — oracle-replayable sketches (operators/sketch.py): classic
# HyperLogLog (md5-derived registers; the harmonic sum is dyadic-exact
# so even the float estimate hash-matches) audited against the exact
# distinct count, and Count-Min point estimates for the top-10 tokens
# against their true counts.  The engine-native sketches (HLL++ /
# approx_count_distinct) stay on the bench-only x47 path — these
# entries make the sketch MATH itself oracle-checkable.
# ---------------------------------------------------------------------------

HLL_B = 8
CMS_K, CMS_DEPTH, CMS_WIDTH = 10, 4, 1024


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.explode(T.tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")


def q159_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _doc_tokens(spark, sf_dir)
    est = sketch.hll_distinct(toks, F.col("tok"), b=HLL_B)
    exact = toks.agg(F.count_distinct(F.col("tok")).alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        "m",
        "n_empty_registers",
        "raw_estimate",
        "estimate",
        "exact_distinct",
        (
            (F.col("estimate") - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double")
        ).alias("rel_error"),
    )


Q159_SQL = f"""
WITH {_TOK_CTE}, hashed AS (
  SELECT ('0x' || substr(md5('hll:' || t), 1, 15))::BIGINT AS h FROM tok
), rr AS (
  SELECT (h >> 52) & 255 AS reg,
         CASE WHEN (h & {(1 << 52) - 1}) = 0 THEN 53
              ELSE 52 - length(bin(h & {(1 << 52) - 1})) + 1 END AS rho
  FROM hashed
), regs AS (
  SELECT reg, max(rho) AS M FROM rr GROUP BY 1
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS present,
         sum(1.0 / CAST(1::BIGINT << CAST(M AS INTEGER) AS DOUBLE))
           AS sum_present
  FROM regs
), est AS (
  SELECT 256 AS m, CAST(256 - present AS BIGINT) AS n_empty_registers,
         7.18272593249545843e-01 * 65536.0
           / (sum_present + CAST(256 - present AS DOUBLE)) AS raw_estimate,
         present
  FROM agg
), fin AS (
  SELECT m, n_empty_registers, raw_estimate,
         CASE WHEN raw_estimate <= 640.0 AND n_empty_registers > 0
              THEN round(256.0 * ln(256.0 / CAST(n_empty_registers AS DOUBLE)), 6)
              ELSE raw_estimate END AS estimate
  FROM est
)
SELECT m, n_empty_registers, raw_estimate, estimate,
       (SELECT CAST(count(DISTINCT t) AS BIGINT) FROM tok) AS exact_distinct,
       (estimate - CAST((SELECT count(DISTINCT t) FROM tok) AS DOUBLE))
         / CAST((SELECT count(DISTINCT t) FROM tok) AS DOUBLE) AS rel_error
FROM fin
"""


def q160_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _doc_tokens(spark, sf_dir)
    return sketch.cms_heavy_hitters(
        toks, F.col("tok"), k=CMS_K, depth=CMS_DEPTH, width=CMS_WIDTH
    )


def _cms_sql() -> str:
    bucket = (
        "('0x' || substr(md5('cms' || {d} || ':' || t), 1, 15))::BIGINT"
        f" % {CMS_WIDTH}"
    )
    return f"""
WITH {_TOK_CTE}, buckets AS (
  SELECT t, f, d.d, {bucket.format(d='d.d')} AS bkt
  FROM types, range(0, {CMS_DEPTH}) d(d)
), counters AS (
  SELECT d, bkt, CAST(sum(f) AS BIGINT) AS ctr FROM buckets GROUP BY 1, 2
), top AS (
  SELECT t, f FROM types ORDER BY f DESC, t LIMIT {CMS_K}
), probe AS (
  SELECT top.t, top.f, d.d, {bucket.format(d='d.d')} AS bkt
  FROM top, range(0, {CMS_DEPTH}) d(d)
)
SELECT probe.t AS value, CAST(probe.f AS BIGINT) AS true_count,
       CAST(min(counters.ctr) AS BIGINT) AS cms_estimate
FROM probe JOIN counters ON probe.d = counters.d AND probe.bkt = counters.bkt
GROUP BY 1, 2
ORDER BY true_count DESC, value
"""


Q160_SQL = _cms_sql()


# ---------------------------------------------------------------------------
# q161-q163 — corpus-curation II: per-document unigram cross-entropy
# (operators/curation.py:unigram_cross_entropy — the KenLM-free CCNet
# perplexity-filter analogue), the Gopher n-gram repetition rule
# (curation.py:ngram_repetition_ratio), and BPE encode
# (operators/vocab.py:bpe_token_counts — the vocabulary the q144
# merges induce, same unrolled oracle plus a final histogram).
# ---------------------------------------------------------------------------

REP_N = 3


def q161_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return curation.unigram_cross_entropy(docs, "text", "doc_id")


Q161_SQL = f"""
WITH tokd0 AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS t FROM documents
), tokd AS (
  SELECT doc_id, t FROM tokd0 WHERE t <> ''
), dt AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c FROM tokd GROUP BY 1, 2
), lm AS (
  SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM dt GROUP BY 1
), tot AS (
  SELECT CAST(sum(ct) AS BIGINT) AS grand FROM lm
), lmp AS (
  SELECT t, round(ln(CAST(ct AS DOUBLE) / CAST(grand AS DOUBLE)), 12) AS lnp
  FROM lm, tot
), terms AS (
  SELECT dt.doc_id, dt.c,
         {{'t': dt.t, 'v': CAST(dt.c AS DOUBLE) * lmp.lnp}} AS s
  FROM dt JOIN lmp USING (t)
), per AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         list_sort(list(s)) AS arr
  FROM terms GROUP BY 1
)
SELECT doc_id, n_tokens, n_types,
       -(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(arr, s -> s.v)), (a, v) -> a + v))
         / CAST(n_tokens AS DOUBLE) AS cross_entropy
FROM per
"""


def q162_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return curation.ngram_repetition_ratio(docs, "text", "doc_id", n=REP_N)


Q162_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
), g0 AS (
  SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(toks) - {REP_N - 1}, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + {REP_N - 1}), ' ')
         )) AS g
  FROM d
), g AS (
  SELECT doc_id, g FROM g0 WHERE g <> ''
), counts AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2
), ranked AS (
  SELECT doc_id, g, c,
         CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_ngrams,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, g DESC) AS rn
  FROM counts
)
SELECT doc_id, n_ngrams, g AS top_ngram, c AS top_count,
       CAST(c AS DOUBLE) / CAST(n_ngrams AS DOUBLE) AS repetition_ratio
FROM ranked WHERE rn = 1
"""


def q163_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return vocab.bpe_token_counts(docs, rounds=BPE_ROUNDS)


Q163_SQL = _bpe_encode_sql()


# ---------------------------------------------------------------------------
# q164-q166 — classifier evaluation III (operators/evaluation.py):
# Brier score (order-independent exact-decimal squared terms), expected
# calibration error (the calibration_bins one-number summary, bounded
# bin-order fold), and Spearman rank correlation (average ranks carried
# DOUBLED as integers from the distributed prefix scan — exact moments,
# two sqrt + one division as the only float ops).
# ---------------------------------------------------------------------------


def q164_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluation.brier_score(
        _quality_labeled(spark, sf_dir), "score", "label"
    )


Q164_SQL = f"""
WITH {_QUALITY_CTE}
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum((CAST(round(score, 6) AS DECIMAL(18,6))
                 - CAST(label AS DECIMAL(18,6)))
                * (CAST(round(score, 6) AS DECIMAL(18,6))
                   - CAST(label AS DECIMAL(18,6)))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS brier
FROM scored
"""


def q165_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluation.expected_calibration_error(
        _quality_labeled(spark, sf_dir), "score", "label", "doc_id",
        bins=CAL_BINS,
    )


Q165_SQL = f"""
WITH {_QUALITY_CTE}, binned AS (
  SELECT score, label,
         (CAST(row_number() OVER (ORDER BY score, doc_id) - 1 AS BIGINT)
          * {CAL_BINS}) // count(*) OVER () AS bin
  FROM scored
), tbl AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate,
         CAST(sum(CAST(round(score, 6) AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mean_score
  FROM binned GROUP BY bin
), folded AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS n_rows,
         list_sort(list({{'b': bin,
                          'v': CAST(n_rows AS DOUBLE)
                               * abs(pos_rate - mean_score)}})) AS arr
  FROM tbl
)
SELECT {CAL_BINS} AS bins, n_rows,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(arr, s -> s.v)), (a, v) -> a + v)
         / CAST(n_rows AS DOUBLE) AS ece
FROM folded
"""


def q166_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    rated = docs.select(
        T.quality_score(F.col("text")).alias("score"),
        F.length(F.col("text")).cast("long").alias("n_chars"),
    )
    return evaluation.spearman_corr(rated, "score", "n_chars")


Q166_SQL = f"""
WITH {_QUALITY_CTE}, b AS (
  SELECT s.score AS x, CAST(length(d.text) AS BIGINT) AS y
  FROM scored s JOIN documents d USING (doc_id)
), hx AS (
  SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1
), rx AS (
  SELECT x, CAST(2 * coalesce(sum(cnt) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + cnt + 1 AS BIGINT) AS r2x
  FROM hx
), hy AS (
  SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1
), ry AS (
  SELECT y, CAST(2 * coalesce(sum(cnt) OVER (ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + cnt + 1 AS BIGINT) AS r2y
  FROM hy
), m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         sum(r2x::HUGEINT) AS sx, sum(r2y::HUGEINT) AS sy,
         sum(r2x::HUGEINT * r2x::HUGEINT) AS sxx,
         sum(r2y::HUGEINT * r2y::HUGEINT) AS syy,
         sum(r2x::HUGEINT * r2y::HUGEINT) AS sxy
  FROM b JOIN rx USING (x) JOIN ry USING (y)
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS rho
FROM m
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# q167-q170 — hypothesis tests (operators/hypothesis.py): KS two-sample,
# chi-square independence + Cramér's V, Welch's t, Kruskal-Wallis H.
# All rank machinery is distinct-value-histogram-sized with the
# two-level distributed prefix sum; float folds only over SORTED
# category-sized arrays.  Reference analogue: none (transform.py
# computes means only); training-data extension surface.
# ---------------------------------------------------------------------------

KS_GROUP_A, KS_GROUP_B = "1-URGENT", "5-LOW"


def q167_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hypothesis.ks_two_sample(
        _t(spark, sf_dir, "orders"),
        "o_totalprice",
        "o_orderpriority",
        KS_GROUP_A,
        KS_GROUP_B,
    )


Q167_SQL = f"""
WITH f AS (
  SELECT o_totalprice AS v, o_orderpriority AS g FROM orders
  WHERE o_totalprice IS NOT NULL
    AND o_orderpriority IN ('{KS_GROUP_A}', '{KS_GROUP_B}')
), h AS (
  SELECT v,
         CAST(sum(CASE WHEN g = '{KS_GROUP_A}' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN g = '{KS_GROUP_B}' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM f GROUP BY 1
), t AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM h
), c AS (
  SELECT CAST(sum(ca) OVER w AS BIGINT) AS fa,
         CAST(sum(cb) OVER w AS BIGINT) AS fb
  FROM h WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), m AS (
  SELECT max(abs(fa * t.n_b - fb * t.n_a)) AS dmax FROM c, t
)
SELECT t.n_a, t.n_b,
       CAST(m.dmax AS DOUBLE) / CAST(t.n_a * t.n_b AS DOUBLE) AS ks_stat
FROM t, m
"""


def q168_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hypothesis.chi_square_independence(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


Q168_SQL = """
WITH cells AS (
  SELECT o_orderpriority AS r, o_orderstatus AS c,
         CAST(count(*) AS BIGINT) AS o
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1, 2
), rm AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
cm AS (SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
n AS (
  SELECT CAST(sum(o) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT r) AS BIGINT) AS nr,
         CAST(count(DISTINCT c) AS BIGINT) AS nc
  FROM cells
), folded AS (
  SELECT n.n_rows, n.nr, n.nc,
         list_sort(list({'r': cells.r, 'c': cells.c,
           't': (CAST(o AS DOUBLE)
                 - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                   / CAST(n.n_rows AS DOUBLE))
                * (CAST(o AS DOUBLE)
                   - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                     / CAST(n.n_rows AS DOUBLE))
                / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                   / CAST(n.n_rows AS DOUBLE))})) AS arr
  FROM cells JOIN rm USING (r) JOIN cm USING (c), n
  GROUP BY 1, 2, 3
)
SELECT n_rows, nr AS n_levels_row, nc AS n_levels_col,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(arr, s -> s.t)), (a, v) -> a + v) AS chi2,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
       CASE WHEN least(nr, nc) - 1 > 0 THEN
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(arr, s -> s.t)), (a, v) -> a + v)
              / (CAST(n_rows AS DOUBLE) * CAST(least(nr, nc) - 1 AS DOUBLE)))
       END AS cramers_v
FROM folded
"""


def q169_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hypothesis.welch_t_test(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", "l_returnflag",
        "R", "N",
    )


Q169_SQL = """
WITH f AS (
  SELECT CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS v,
         l_returnflag AS g
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IN ('R', 'N')
), a AS (
  SELECT CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN g = 'R' THEN v END) AS DOUBLE) AS sa,
         CAST(sum(CASE WHEN g = 'N' THEN v END) AS DOUBLE) AS sb,
         CAST(sum(CASE WHEN g = 'R' THEN v * v END) AS DOUBLE) AS qa,
         CAST(sum(CASE WHEN g = 'N' THEN v * v END) AS DOUBLE) AS qb
  FROM f
), m AS (
  SELECT n_a, n_b,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         sa / CAST(n_a AS DOUBLE) AS ma, sb / CAST(n_b AS DOUBLE) AS mb,
         sa, sb, qa, qb
  FROM a
), v AS (
  SELECT n_a, n_b, ma, mb, na, nb,
         ((qa - ma * sa) / (na - 1)) / na AS se2a,
         ((qb - mb * sb) / (nb - 1)) / nb AS se2b
  FROM m
)
SELECT n_a, n_b, ma AS mean_a, mb AS mean_b,
       (ma - mb) / sqrt(se2a + se2b) AS t_stat,
       (se2a + se2b) * (se2a + se2b)
         / (se2a * se2a / (na - 1) + se2b * se2b / (nb - 1)) AS welch_df
FROM v
"""


def q170_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hypothesis.kruskal_wallis(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderpriority"
    )


Q170_SQL = """
WITH f AS (
  SELECT o_totalprice AS v, o_orderpriority AS g FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
), h AS (
  SELECT v, g, CAST(count(*) AS BIGINT) AS cnt FROM f GROUP BY 1, 2
), pv AS (
  SELECT v, CAST(sum(cnt) AS BIGINT) AS t FROM h GROUP BY 1
), rv AS (
  SELECT v, t,
         CAST(2 * coalesce(sum(t) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + t + 1 AS BIGINT) AS r2
  FROM pv
), ties AS (
  SELECT CAST(sum(t) AS BIGINT) AS N,
         sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
             - CAST(t AS HUGEINT)) AS tie_sum
  FROM rv
), grp AS (
  SELECT g, CAST(sum(cnt) AS BIGINT) AS n_g,
         CAST(sum(cnt * r2) AS BIGINT) AS R2
  FROM h JOIN rv USING (v) GROUP BY 1
), folded AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(list_sort(list({'g': g,
             't': CAST(R2 AS DOUBLE) * CAST(R2 AS DOUBLE)
                  / CAST(n_g AS DOUBLE)})), s -> s.t)),
           (a, v) -> a + v) AS sum_r2sq
  FROM grp
)
SELECT N AS n_rows, n_groups,
       (3.0 * sum_r2sq) / (CAST(N AS DOUBLE) * (CAST(N AS DOUBLE) + 1))
         - 3.0 * (CAST(N AS DOUBLE) + 1) AS h_stat,
       1.0 - CAST(tie_sum AS DOUBLE)
             / (CAST(N AS DOUBLE) * CAST(N AS DOUBLE) * CAST(N AS DOUBLE)
                - CAST(N AS DOUBLE)) AS tie_correction,
       ((3.0 * sum_r2sq) / (CAST(N AS DOUBLE) * (CAST(N AS DOUBLE) + 1))
         - 3.0 * (CAST(N AS DOUBLE) + 1))
       / (1.0 - CAST(tie_sum AS DOUBLE)
                / (CAST(N AS DOUBLE) * CAST(N AS DOUBLE) * CAST(N AS DOUBLE)
                   - CAST(N AS DOUBLE))) AS h_adjusted
FROM folded, ties
"""


# ---------------------------------------------------------------------------
# q171 — per-type autocorrelation of the daily event-count series
# (operators/timeseries.py:acf).  Heavy lifting is the row->day hash
# aggregate; the per-type series is axis-sized, folded exactly in
# DECIMAL(38,0) with one closing double division per lag.
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


def q171_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("x"))
    return (
        timeseries.acf(daily, "event_type", "day", "x", max_lag=ACF_MAX_LAG)
        .select(
            "event_type",
            F.col("lag").cast("long").alias("lag"),
            F.col("n_obs").cast("long").alias("n_obs"),
            "acf",
        )
        .orderBy("event_type", "lag")
    )


Q171_SQL = f"""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type,
         list_transform(list_sort(list({{'o': day, 'x': x}})), r -> r.x) AS xs
  FROM d GROUP BY 1
), m AS (
  SELECT event_type, xs, CAST(len(xs) AS BIGINT) AS n,
         CAST(list_sum(xs) AS HUGEINT) AS S,
         CAST(list_sum(list_transform(xs, v -> v * v)) AS HUGEINT) AS Q
  FROM s
), l AS (
  SELECT event_type, xs, n, S, Q,
         unnest(range(1, least({ACF_MAX_LAG}, n - 1) + 1)) AS lag
  FROM m WHERE n > 1
), sums AS (
  SELECT event_type, lag, n, S, Q,
         CAST(list_sum(list_transform(range(1, n - lag + 1),
           i -> xs[CAST(i AS INTEGER)] * xs[CAST(i + lag AS INTEGER)]))
           AS HUGEINT) AS P,
         CAST(list_sum(xs[1:CAST(n - lag AS INTEGER)]) AS HUGEINT) AS H,
         CAST(list_sum(xs[CAST(lag + 1 AS INTEGER):CAST(n AS INTEGER)])
           AS HUGEINT) AS T
  FROM l
)
SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_obs,
       CASE WHEN CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * Q - S * S) <> 0
            THEN CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * P
                      - CAST(n AS HUGEINT) * S * (H + T)
                      + (CAST(n AS HUGEINT) - CAST(lag AS HUGEINT)) * S * S
                      AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT)
                        * (CAST(n AS HUGEINT) * Q - S * S) AS DOUBLE)
       END AS acf
FROM sums
ORDER BY event_type, lag
"""


# ---------------------------------------------------------------------------
# q172-q173 — graph extension over the q20 fingerprint-overlap edges:
# Adamic-Adar link prediction (wedge join at the common neighbor, hub
# cap) and deterministic semi-supervised label propagation (3 unrolled
# synchronous rounds, seeds fixed).
# ---------------------------------------------------------------------------

AA_MAX_DEGREE = 1000
LP_ROUNDS = 3
LP_SEED_PCT = 30

_EDGE_CTE = f"""n AS (
  SELECT doc_id AS id, {{norm}} AS s FROM documents
), w AS (
  SELECT id, list_distinct(list_transform(
           range(0, greatest(CAST(ceil(length(s) / {{roll}}.0) AS INTEGER), 1)),
           i -> md5(substr(s, i * {{roll}} + 1, {{roll}}))
         )) AS fps
  FROM n
), ex AS (
  SELECT id, fp FROM (SELECT id, unnest(fps) AS fp FROM w)
  QUALIFY count(*) OVER (PARTITION BY fp) <= {ROLL_MAX_DF}
), e AS MATERIALIZED (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM ex l JOIN ex r ON l.fp = r.fp AND l.id < r.id
)"""


def _edge_cte() -> str:
    return _EDGE_CTE.format(norm=_NORM, roll=ROLL_W)


def q172_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = q20_rolling_overlap(spark, sf_dir).select("id_a", "id_b")
    return graph.adamic_adar(edges, max_degree=AA_MAX_DEGREE)


Q172_SQL = f"""
WITH {{edges}}, sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
), deg AS (
  SELECT u AS w, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1
), nb AS MATERIALIZED (
  SELECT s.v AS w, s.u AS n, d.d
  FROM sym s JOIN deg d ON d.w = s.v WHERE d.d <= {AA_MAX_DEGREE}
), wedge AS (
  SELECT a.w, a.d, a.n AS id_a, b.n AS id_b
  FROM nb a JOIN nb b USING (w) WHERE a.n < b.n
), cand AS (
  SELECT * FROM wedge wg
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = wg.id_a AND e.b = wg.id_b)
)
SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_common,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(list_sort(list(d)),
           x -> 1.0 / ln(CAST(x AS DOUBLE)))),
         (a, v) -> a + v), 6) AS aa_score
FROM cand GROUP BY 1, 2
""".format(edges=_edge_cte())


def q173_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    seeded = splits.hash_bucket(F.col("doc_id")) < LP_SEED_PCT
    nodes = docs.select(
        F.col("doc_id").alias("node"),
        F.when(
            seeded, F.when(F.col("lang") == "en", 1).otherwise(0)
        ).alias("seed_label"),
    )
    edges = q20_rolling_overlap(spark, sf_dir).select("id_a", "id_b")
    return graph.label_propagation(nodes, edges, rounds=LP_ROUNDS)


def _label_prop_sql() -> str:
    head = f"""
WITH {{edges}}, sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
), seeds AS MATERIALIZED (
  SELECT doc_id AS node,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM documents
  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INTEGER % 100
        < {LP_SEED_PCT}
), l0 AS MATERIALIZED (SELECT node, label FROM seeds)"""
    rounds = []
    for r in range(1, LP_ROUNDS + 1):
        rounds.append(f""", v{r} AS (
  SELECT s.u AS node, l.label, count(*) AS nv
  FROM sym s JOIN l{r - 1} l ON l.node = s.v GROUP BY 1, 2
), b{r} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY nv DESC, label) AS rn
    FROM v{r}) WHERE rn = 1
), l{r} AS MATERIALIZED (
  SELECT node, label FROM seeds
  UNION ALL
  SELECT b.node, b.label FROM b{r} b
  WHERE NOT EXISTS (SELECT 1 FROM seeds s WHERE s.node = b.node)
)""")

    tail = f"""
SELECT l.node, l.label, s.node IS NOT NULL AS seeded
FROM l{LP_ROUNDS} l LEFT JOIN seeds s USING (node)"""
    return (head + "".join(rounds) + tail).format(edges=_edge_cte())


Q173_SQL = _label_prop_sql()


# ---------------------------------------------------------------------------
# q174 — retrieval metrics (MRR + recall@k) over the q150 kNN ranking;
# q175-q176 — inter-rater agreement (Fleiss' kappa over three
# deterministic raters) and McNemar's paired-classifier test on the
# quality-scored corpus.
# ---------------------------------------------------------------------------


def q174_mrr_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == KNN_QUERY_ID).select(
        "embedding", "label"
    ).first()
    knn = similarity.brute_force_knn(
        emb.filter(F.col("vec_id") != KNN_QUERY_ID),
        list(qrow["embedding"]),
        k=NDCG_K,
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    ranked = (
        knn.withColumn("rank", F.row_number().over(w))
        .join(emb.select("vec_id", "label"), "vec_id")
        .select(
            "rank",
            F.when(F.col("label") == F.lit(int(qrow["label"])), 1.0)
            .otherwise(0.0)
            .alias("rel"),
        )
    )
    total_rel = (
        emb.filter(
            (F.col("vec_id") != KNN_QUERY_ID)
            & (F.col("label") == F.lit(int(qrow["label"])))
        )
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    return evaluation.mrr_recall_at_k(ranked, "rank", "rel", NDCG_K, total_rel)


Q174_SQL = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv, label AS qlabel FROM embeddings
  WHERE vec_id = {KNN_QUERY_ID}
), scored AS (
  SELECT e.vec_id, e.label, q.qlabel,
         round(
           list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> e.embedding[i]::DOUBLE * q.qv[i]))
           / (sqrt(list_sum(list_transform(e.embedding,
                            x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
         6) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> {KNN_QUERY_ID}
), ranked AS (
  SELECT row_number() OVER (ORDER BY cosine DESC NULLS LAST, vec_id) AS r,
         CASE WHEN label = qlabel THEN 1.0 ELSE 0.0 END AS rel
  FROM scored
  ORDER BY cosine DESC NULLS LAST, vec_id LIMIT {NDCG_K}
), agg AS (
  SELECT CAST(min(CASE WHEN rel > 0 THEN r END) AS INTEGER)
           AS first_rel_rank,
         CAST(sum(CASE WHEN rel > 0 AND r <= {NDCG_K} THEN 1 ELSE 0 END)
           AS BIGINT) AS hits_at_k
  FROM ranked
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rel
  FROM embeddings e, q
  WHERE e.vec_id <> {KNN_QUERY_ID} AND e.label = q.qlabel
)
SELECT first_rel_rank,
       coalesce(1.0 / CAST(first_rel_rank AS DOUBLE), 0.0) AS mrr,
       hits_at_k, n_rel,
       CASE WHEN n_rel > 0
            THEN CAST(hits_at_k AS DOUBLE) / CAST(n_rel AS DOUBLE)
            ELSE 0.0 END AS recall_at_k
FROM agg, tot
"""

FLEISS_LEN_T = 500


def _rater_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return _quality_labeled(spark, sf_dir).join(docs, "doc_id").select(
        (F.col("score") >= 0.5).cast("int").alias("r1"),
        F.col("label").alias("r2"),
        (F.col("n_chars") >= FLEISS_LEN_T).cast("int").alias("r3"),
    )


def q175_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluation.fleiss_kappa(
        _rater_frame(spark, sf_dir), ["r1", "r2", "r3"]
    )


Q175_SQL = f"""
WITH {_QUALITY_CTE}, r AS (
  SELECT CASE WHEN s.score >= 0.5 THEN 1 ELSE 0 END
         + s.label
         + CASE WHEN d.n_chars >= {FLEISS_LEN_T} THEN 1 ELSE 0 END AS n1
  FROM scored s JOIN documents d USING (doc_id)
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS N,
         CAST(sum((3 - n1) * (3 - n1) + n1 * n1) AS BIGINT) AS sum_sq,
         CAST(sum(3 - n1) AS BIGINT) AS t0,
         CAST(sum(n1) AS BIGINT) AS t1
  FROM r
), k AS (
  SELECT N, sum_sq, t0, t1,
         (CAST(sum_sq AS DOUBLE) - CAST(N AS DOUBLE) * 3.0)
           / (CAST(N AS DOUBLE) * 3.0 * 2.0) AS p_bar,
         (CAST(t0 AS DOUBLE) / (CAST(N AS DOUBLE) * 3.0))
           * (CAST(t0 AS DOUBLE) / (CAST(N AS DOUBLE) * 3.0))
         + (CAST(t1 AS DOUBLE) / (CAST(N AS DOUBLE) * 3.0))
           * (CAST(t1 AS DOUBLE) / (CAST(N AS DOUBLE) * 3.0)) AS p_e
  FROM a
)
SELECT N AS n_rows, 3 AS n_raters, p_bar, p_e,
       (p_bar - p_e) / (1.0 - p_e) AS kappa
FROM k
"""


def q176_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    preds = _quality_labeled(spark, sf_dir).join(docs, "doc_id").select(
        (F.col("score") >= 0.5).cast("int").alias("pred_a"),
        (F.col("n_chars") >= FLEISS_LEN_T).cast("int").alias("pred_b"),
        F.col("label"),
    )
    return evaluation.mcnemar(preds, "pred_a", "pred_b", "label")


Q176_SQL = f"""
WITH {_QUALITY_CTE}, p AS (
  SELECT CASE WHEN (CASE WHEN s.score >= 0.5 THEN 1 ELSE 0 END) = s.label
              THEN 1 ELSE 0 END AS a_ok,
         CASE WHEN (CASE WHEN d.n_chars >= {FLEISS_LEN_T} THEN 1 ELSE 0 END)
              = s.label THEN 1 ELSE 0 END AS b_ok
  FROM scored s JOIN documents d USING (doc_id)
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(a_ok * (1 - b_ok)) AS BIGINT) AS b_count,
         CAST(sum((1 - a_ok) * b_ok) AS BIGINT) AS c_count
  FROM p
)
SELECT n_rows, b_count, c_count,
       CASE WHEN b_count + c_count > 0 THEN
         CAST((b_count - c_count) * (b_count - c_count) AS DOUBLE)
         / CAST(b_count + c_count AS DOUBLE)
       END AS mcnemar_stat
FROM a
"""


# ---------------------------------------------------------------------------
# q177-q178 — training schedules (operators/splits.py): deterministic
# epoch shuffle into global batches, and curriculum interleave mixing
# exact-rank difficulty tiers round-robin.  Both ranks are the
# two-level distributed prefix count; the shuffle key is the portable
# salted md5 so any engine replays the identical permutation.
# ---------------------------------------------------------------------------

EPOCH_N, BATCH_SIZE = 1, 256
CUR_BUCKETS, CUR_HEAD = 8, 20


def q177_epoch_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.epoch_shuffle_batches(
        _t(spark, sf_dir, "documents"), "doc_id",
        epoch=EPOCH_N, batch_size=BATCH_SIZE,
    )


Q177_SQL = f"""
WITH k AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR || '#e{EPOCH_N}'), 1, 15))::BIGINT
           AS kk
  FROM documents
), r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY kk, doc_id) - 1 AS BIGINT) AS rk
  FROM k
)
SELECT rk // {BATCH_SIZE} AS batch, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM r GROUP BY 1
"""


def q178_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.curriculum_interleave(
        _t(spark, sf_dir, "documents"), "doc_id", "n_chars",
        n_buckets=CUR_BUCKETS, head=CUR_HEAD,
    )


Q178_SQL = f"""
WITH k AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5(doc_id::VARCHAR || '#cur'), 1, 15))::BIGINT AS kk
  FROM documents
), b AS (
  SELECT doc_id, kk,
         (CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT)
          * {CUR_BUCKETS}) // count(*) OVER () AS bucket
  FROM k
), p AS (
  SELECT doc_id, bucket,
         CAST(row_number() OVER (PARTITION BY bucket ORDER BY kk, doc_id) - 1
           AS BIGINT) AS pos
  FROM b
)
SELECT pos * {CUR_BUCKETS} + bucket AS schedule_pos, doc_id AS id, bucket
FROM p ORDER BY schedule_pos LIMIT {CUR_HEAD}
"""


# ---------------------------------------------------------------------------
# q179-q180 — moment-matrix analytics (operators/stats.py): exact
# covariance/correlation matrix and closed-form 2-feature OLS (normal
# equations via Cramer).  Both sides evaluate the SAME formula strings
# (stats.COV_FORMULA etc.) over identical exact decimal moment sums.
# ---------------------------------------------------------------------------

COV_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q179_cov_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.covariance_matrix(_t(spark, sf_dir, "lineitem"), COV_COLS)


def _cov_matrix_sql() -> str:
    d = len(COV_COLS)
    sum_cols = ["CAST(count(*) AS DOUBLE) AS n"]
    for i, ci in enumerate(COV_COLS):
        sum_cols.append(
            f"CAST(CAST(sum(CAST({ci} AS DECIMAL(18,2))) AS VARCHAR)"
            f" AS DOUBLE) AS s{i}"
        )
        for j, cj in enumerate(COV_COLS):
            if i <= j:
                sum_cols.append(
                    f"CAST(CAST(sum(CAST({ci} AS DECIMAL(18,2))"
                    f" * CAST({cj} AS DECIMAL(18,2))) AS VARCHAR)"
                    f" AS DOUBLE) AS s{i}_{j}"
                )
    where = " AND ".join(f"{c} IS NOT NULL" for c in COV_COLS)
    rows = []
    for i, ci in enumerate(COV_COLS):
        for j, cj in enumerate(COV_COLS):
            if i > j:
                continue
            sub = {
                "si": f"s{i}", "sj": f"s{j}", "sij": f"s{i}_{j}",
                "sii": f"s{i}_{i}", "sjj": f"s{j}_{j}",
            }
            rows.append(
                f"SELECT '{ci}' AS col_x, '{cj}' AS col_y,"
                f" CAST(n AS BIGINT) AS n_rows,"
                f" {stats.COV_FORMULA.format(**sub)} AS cov,"
                f" {stats.CORR_FORMULA.format(**sub)} AS corr FROM s"
            )
    return (
        "WITH s AS (SELECT " + ", ".join(sum_cols)
        + f" FROM lineitem WHERE {where})\n"
        + "\nUNION ALL\n".join(rows)
    )


Q179_SQL = _cov_matrix_sql()


def q180_multi_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.multi_ols(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        ["l_quantity", "l_discount"],
    )


Q180_SQL = f"""
WITH s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
           AS DOUBLE) AS sy,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
           AS DOUBLE) AS syy,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
           AS DOUBLE) AS s1,
         CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR)
           AS DOUBLE) AS s2,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
           AS DOUBLE) AS s11,
         CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))
                       * CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR)
           AS DOUBLE) AS s22,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR)
           AS DOUBLE) AS s12,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
           AS DOUBLE) AS s1y,
         CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))
                       * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
           AS DOUBLE) AS s2y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_discount IS NOT NULL
), st1 AS (SELECT *, {stats.OLS2_DET} AS det FROM s),
st2 AS (SELECT *, {stats.OLS2_B0} AS b0, {stats.OLS2_B1} AS b1,
               {stats.OLS2_B2} AS b2 FROM st1),
st3 AS (SELECT *, {stats.OLS2_SSE} AS sse FROM st2)
SELECT CAST(n AS BIGINT) AS n_rows, b0, b1, b2, {stats.OLS2_R2} AS r2
FROM st3
"""


# ---------------------------------------------------------------------------
# q181-q182 — categorical target encoding (operators/encoding.py):
# smoothed, and the leakage-free k-fold variant (totals minus own fold).
# ---------------------------------------------------------------------------

TE_M, TE_FOLDS = 100.0, 5


def q181_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return encoding.target_encode(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice",
        m=TE_M,
    )


Q181_SQL = f"""
WITH b AS (
  SELECT o_orderpriority AS category, o_totalprice AS y FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
), pc AS (
  SELECT category, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(CAST(sum(CAST(y AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s_c
  FROM b GROUP BY 1
), g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_all,
         CAST(CAST(sum(CAST(y AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
           AS s_all
  FROM b
)
SELECT category, n_rows,
       (s_c + {TE_M} * (s_all / n_all)) / (CAST(n_rows AS DOUBLE) + {TE_M})
         AS target_enc
FROM pc, g
"""


def q182_kfold_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").withColumn(
        "fold", splits.hash_bucket(F.col("o_orderkey"), TE_FOLDS)
    )
    return encoding.kfold_target_encode(
        orders, "o_orderpriority", "o_totalprice", "fold", m=TE_M
    )


Q182_SQL = f"""
WITH b AS (
  SELECT o_orderpriority AS category, o_totalprice AS y,
         ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 4))::INTEGER
           % {TE_FOLDS} AS fold
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
), cf AS (
  SELECT category, fold, CAST(count(*) AS BIGINT) AS n_cf,
         CAST(CAST(sum(CAST(y AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
           AS s_cf
  FROM b GROUP BY 1, 2
), ct AS (
  SELECT category, CAST(count(*) AS BIGINT) AS n_c,
         CAST(CAST(sum(CAST(y AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s_c
  FROM b GROUP BY 1
), ft AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n_f,
         CAST(CAST(sum(CAST(y AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s_f
  FROM b GROUP BY 1
), g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all,
         CAST(CAST(sum(CAST(y AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
           AS s_all
  FROM b
)
SELECT cf.category, cf.fold, cf.n_cf AS n_rows,
       ((s_c - s_cf) + {TE_M} * ((s_all - s_f)
                                 / CAST(n_all - n_f AS DOUBLE)))
       / (CAST(n_c - n_cf AS DOUBLE) + {TE_M}) AS target_enc
FROM cf JOIN ct USING (category) JOIN ft USING (fold), g
"""


# ---------------------------------------------------------------------------
# q183-q184 — TPC-H Q7/Q8 join shapes on the engine's tables: bilateral
# volume shipping by year, and per-year market share of one supplier
# nation.  Demonstrate the multi-dim broadcast join plans; revenue is
# the q117 exact-decimal convention.
# ---------------------------------------------------------------------------

Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"
Q8_REGION, Q8_TYPE, Q8_NATION = "EUROPE", "PROMO", "NATION_5"


def _rev() -> F.Column:
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)")
        - F.col("l_discount").cast("decimal(3,2)")
    )


def q183_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = nat.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("cust_nation"),
    )
    sn = nat.select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    pair = (
        (F.col("supp_nation") == Q7_NATION_A)
        & (F.col("cust_nation") == Q7_NATION_B)
    ) | (
        (F.col("supp_nation") == Q7_NATION_B)
        & (F.col("cust_nation") == Q7_NATION_A)
    )
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(cn), "c_nationkey")
        .join(F.broadcast(sn), "s_nationkey")
        .filter(pair)
    )
    dbl = lambda c: c.cast("string").cast("double")  # noqa: E731
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dbl(F.sum(_rev())).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q183_SQL = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(3,2))
                        - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR)
         AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE (sn.n_name = '{Q7_NATION_A}' AND cn.n_name = '{Q7_NATION_B}')
   OR (sn.n_name = '{Q7_NATION_B}' AND cn.n_name = '{Q7_NATION_A}')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q184_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == Q8_TYPE
    ).select("p_partkey")
    cn = nat.join(
        F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"]
    ).select(F.col("n_nationkey").alias("c_nationkey"))
    sn = nat.select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(cn), "c_nationkey", "left_semi")
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(sn), "s_nationkey")
    )
    dbl = lambda c: c.cast("string").cast("double")  # noqa: E731
    agg = j.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        dbl(
            F.sum(
                F.when(F.col("supp_nation") == Q8_NATION, _rev())
                .otherwise(F.lit(0).cast("decimal(18,4)"))
            )
        ).alias("__nat"),
        dbl(F.sum(_rev())).alias("__tot"),
    )
    return agg.select(
        "o_year", (F.col("__nat") / F.col("__tot")).alias("mkt_share")
    ).orderBy("o_year")


Q184_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(sum(CASE WHEN sn.n_name = '{Q8_NATION}'
                  THEN CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(3,2))
                          - CAST(l_discount AS DECIMAL(3,2)))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
       / CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(3,2))
                          - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR)
           AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = '{Q8_TYPE}'
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE c_nationkey IN (
  SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{Q8_REGION}')
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# q185-q187 — theta-sketch vocabulary overlap between two corpus
# slices (operators/sketch.py), additive seasonal decomposition of the
# event stream (operators/timeseries.py), and a deterministic
# Poissonized bootstrap CI for the mean (operators/stats.py).
# ---------------------------------------------------------------------------

THETA_BITS = 4
THETA_SRC_A, THETA_SRC_B = "src0", "src1"


def q185_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), r"\s+")).alias("token")
    )
    return sketch.theta_overlap(
        toks, "source", "token", THETA_SRC_A, THETA_SRC_B,
        theta_bits=THETA_BITS,
    )


Q185_SQL = f"""
WITH tk AS (
  SELECT source, unnest(str_split_regex(text, '\\s+')) AS token
  FROM documents WHERE source IN ('{THETA_SRC_A}', '{THETA_SRC_B}')
), kept AS (
  SELECT ('0x' || substr(md5('th#' || token), 1, 15))::BIGINT AS h,
         CAST(max(CASE WHEN source = '{THETA_SRC_A}' THEN 1 ELSE 0 END)
           AS BIGINT) AS a,
         CAST(max(CASE WHEN source <> '{THETA_SRC_A}' THEN 1 ELSE 0 END)
           AS BIGINT) AS b
  FROM tk
  WHERE ('0x' || substr(md5('th#' || token), 1, 15))::BIGINT
        < {2 ** (60 - THETA_BITS)}
  GROUP BY 1
), agg AS (
  SELECT CAST(sum(a) AS BIGINT) AS kept_a, CAST(sum(b) AS BIGINT) AS kept_b,
         CAST(count(*) AS BIGINT) AS kept_union,
         CAST(sum(a * b) AS BIGINT) AS kept_inter
  FROM kept
)
SELECT kept_a, kept_b, kept_union, kept_inter,
       kept_a * {2 ** THETA_BITS} AS est_a,
       kept_b * {2 ** THETA_BITS} AS est_b,
       kept_union * {2 ** THETA_BITS} AS est_union,
       kept_inter * {2 ** THETA_BITS} AS est_inter,
       CASE WHEN kept_union > 0
            THEN CAST(kept_inter AS DOUBLE) / CAST(kept_union AS DOUBLE)
       END AS jaccard_est
FROM agg
"""

SEASON_PERIOD = 7


def q186_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("x"))
    return (
        timeseries.seasonal_decompose(
            daily, "event_type", "day", "x", period=SEASON_PERIOD
        )
        .select(
            "event_type",
            F.col("phase").cast("long").alias("phase"),
            "n_obs",
            "seasonal",
        )
        .orderBy("event_type", "phase")
    )


Q186_SQL = f"""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), w AS (
  SELECT event_type, day, x,
         sum(x) OVER win AS sw, count(*) OVER win AS wn
  FROM d
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN {SEASON_PERIOD // 2} PRECEDING
                          AND {SEASON_PERIOD // 2} FOLLOWING)
), full_w AS (
  SELECT event_type,
         (day - DATE '1970-01-01') % {SEASON_PERIOD} AS phase,
         {SEASON_PERIOD} * x - sw AS dev
  FROM w WHERE wn = {SEASON_PERIOD}
)
SELECT event_type, CAST(phase AS BIGINT) AS phase,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(dev) AS DOUBLE)
         / ({SEASON_PERIOD}.0 * CAST(count(*) AS DOUBLE)) AS seasonal
FROM full_w GROUP BY 1, 2
ORDER BY 1, 2
"""

BOOT_B, BOOT_ALPHA = 40, 0.1


def q187_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.bootstrap_mean_ci(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderkey",
        b_reps=BOOT_B, alpha=BOOT_ALPHA,
    )


def _bootstrap_sql() -> str:
    cuts = stats.POISSON_CUTOFFS
    w_case = "CASE " + " ".join(
        f"WHEN h < {c} THEN {j}" for j, c in enumerate(cuts)
    ) + f" ELSE {len(cuts)} END"
    k = int((BOOT_ALPHA / 2) * BOOT_B)
    return f"""
WITH base AS (
  SELECT o_orderkey::VARCHAR AS id, CAST(o_totalprice AS DECIMAL(18,2)) AS v
  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
), rep AS (
  SELECT id, v, unnest(range(0, {BOOT_B})) AS b FROM base
), hashed AS (
  SELECT v, b,
         ('0x' || substr(md5(id || '#b' || b::VARCHAR), 1, 15))::BIGINT AS h
  FROM rep
), weighted AS (
  SELECT b, v, {w_case} AS w FROM hashed
), means AS (
  SELECT CAST(CAST(sum(CAST(w AS DECIMAL(4,0)) * v) AS VARCHAR) AS DOUBLE)
           / CAST(sum(w) AS DOUBLE) AS m
  FROM weighted GROUP BY b
), arr AS (
  SELECT list_sort(list(m)) AS ms FROM means
), point AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) AS s_all
  FROM base
)
SELECT n_rows, {BOOT_B} AS b_reps,
       s_all / CAST(n_rows AS DOUBLE) AS mean_point,
       ms[{k + 1}] AS ci_lo, ms[{BOOT_B - k}] AS ci_hi
FROM point, arr
"""


Q187_SQL = _bootstrap_sql()


# ---------------------------------------------------------------------------
# q188-q189 — in-engine model fitting and selection: full-batch
# logistic-regression training (curation.train_logreg, 3 unrolled GD
# steps, exact-decimal gradient sums) and a one-pass decision-threshold
# sweep over every distinct score (evaluation.best_threshold).
# ---------------------------------------------------------------------------

LOGREG_LR, LOGREG_ITERS = 1.0, 3
LOGREG_LEN_SCALE = 20000.0


def _logreg_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return _quality_labeled(spark, sf_dir).join(docs, "doc_id").select(
        "label",
        F.col("score").alias("x1"),
        (F.col("n_chars").cast("double") / LOGREG_LEN_SCALE).alias("x2"),
    )


def q188_train_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.train_logreg(
        _logreg_frame(spark, sf_dir), ["x1", "x2"], "label",
        lr=LOGREG_LR, iters=LOGREG_ITERS,
    )


def _logreg_sql() -> str:
    feats = f"""f AS (
  SELECT CAST(s.label AS DOUBLE) AS y, s.label AS yl,
         round(s.score, 6) AS x1,
         round(CAST(d.n_chars AS DOUBLE) / {LOGREG_LEN_SCALE}, 6) AS x2
  FROM scored s JOIN documents d USING (doc_id)
), w0_ AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"""
    steps = []
    for i in range(LOGREG_ITERS):
        z = "(w0 * 1.0 + w1 * x1 + w2 * x2)"
        r = f"round(y - 1.0 / (1.0 + exp(-{z})), 6)"
        steps.append(f""", g{i} AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(CAST(sum(CAST(1.0 * {r} AS DECIMAL(28,12))) AS VARCHAR)
           AS DOUBLE) AS g0,
         CAST(CAST(sum(CAST(x1 * {r} AS DECIMAL(28,12))) AS VARCHAR)
           AS DOUBLE) AS g1,
         CAST(CAST(sum(CAST(x2 * {r} AS DECIMAL(28,12))) AS VARCHAR)
           AS DOUBLE) AS g2
  FROM f, w{i}_
), w{i + 1}_ AS (
  SELECT w0 + {LOGREG_LR} * (g0 / CAST(n AS DOUBLE)) AS w0,
         w1 + {LOGREG_LR} * (g1 / CAST(n AS DOUBLE)) AS w1,
         w2 + {LOGREG_LR} * (g2 / CAST(n AS DOUBLE)) AS w2
  FROM w{i}_, g{i}
)""")
    wf = f"w{LOGREG_ITERS}_"
    return (
        f"WITH {_QUALITY_CTE}, "
        + feats
        + "".join(steps)
        + f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       any_value(w0) AS w0, any_value(w1) AS w1, any_value(w2) AS w2,
       CAST(sum(CASE WHEN (CASE WHEN (w0 * 1.0 + w1 * x1 + w2 * x2) >= 0
                                THEN 1 ELSE 0 END) = yl
                     THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS train_accuracy
FROM f, {wf}
"""
    )


Q188_SQL = _logreg_sql()


def q189_best_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluation.best_threshold(
        _quality_labeled(spark, sf_dir), "score", "label"
    )


Q189_SQL = f"""
WITH {_QUALITY_CTE}, g AS (
  SELECT score AS s, CAST(sum(label) AS BIGINT) AS p,
         CAST(sum(1 - label) AS BIGINT) AS n
  FROM scored GROUP BY 1
), t AS (
  SELECT CAST(sum(p) AS BIGINT) AS P, CAST(sum(n) AS BIGINT) AS N FROM g
), c AS (
  SELECT s, CAST(coalesce(sum(p) OVER w, 0) AS BIGINT) AS cp,
         CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS cn
  FROM g WINDOW w AS (ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), cand AS (
  SELECT s, t.P - cp AS tp, t.N - cn AS fp, cn AS tn, cp AS fn
  FROM c, t
), best AS (
  SELECT * FROM cand ORDER BY -(tp + tn), -tp, s LIMIT 1
)
SELECT s AS threshold, tp, fp, tn, fn,
       CAST(tp + tn AS DOUBLE) / CAST(tp + fp + tn + fn AS DOUBLE)
         AS accuracy,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
            ELSE 0.0 END AS f1
FROM best
"""


# ---------------------------------------------------------------------------
# q190-q191 — graph BFS hop distance from a seed slice
# (graph.bfs_hops, unrolled level-synchronous oracle) and golden-record
# survivorship merge over near-dup clusters (dedup.golden_records).
# ---------------------------------------------------------------------------

BFS_SEED_PCT, BFS_MAX_HOPS = 5, 4


def q190_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    seeds = docs.filter(
        splits.hash_bucket(F.col("doc_id")) < BFS_SEED_PCT
    ).select(F.col("doc_id").alias("node"))
    edges = q20_rolling_overlap(spark, sf_dir).select("id_a", "id_b")
    return graph.bfs_hops(edges, seeds, max_hops=BFS_MAX_HOPS).select(
        "node", F.col("hops").cast("long").alias("hops")
    )


def _bfs_sql() -> str:
    head = f"""
WITH {{edges}}, sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
), l0 AS MATERIALIZED (
  SELECT DISTINCT doc_id AS node FROM documents
  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INTEGER % 100
        < {BFS_SEED_PCT}
), vis0 AS MATERIALIZED (SELECT node, 0 AS hops FROM l0)"""
    parts = []
    for h in range(1, BFS_MAX_HOPS + 1):
        parts.append(f""", l{h} AS MATERIALIZED (
  SELECT DISTINCT s.u AS node
  FROM sym s JOIN l{h - 1} f ON f.node = s.v
  WHERE NOT EXISTS (SELECT 1 FROM vis{h - 1} x WHERE x.node = s.u)
), vis{h} AS MATERIALIZED (
  SELECT node, hops FROM vis{h - 1}
  UNION ALL SELECT node, {h} AS hops FROM l{h}
)""")
    tail = f"""
SELECT node, CAST(hops AS BIGINT) AS hops FROM vis{BFS_MAX_HOPS}"""
    return (head + "".join(parts) + tail).format(edges=_edge_cte())


Q190_SQL = _bfs_sql()


def q191_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    edges = q20_rolling_overlap(spark, sf_dir).select("id_a", "id_b")
    clusters = graph.connected_components(edges).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    members = docs.join(clusters, "doc_id")
    return dedup.golden_records(
        members, "doc_id", "cluster_id",
        mode_cols=["lang", "source"], max_cols=["n_chars"],
    )


Q191_SQL = """
WITH RECURSIVE {edges}, sym AS (
  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
), reach AS (
  SELECT DISTINCT u AS id, u AS lbl FROM sym
  UNION
  SELECT s.u AS id, r.lbl FROM sym s JOIN reach r ON r.id = s.v
), clusters AS MATERIALIZED (
  SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id
), members AS MATERIALIZED (
  SELECT d.doc_id, c.cluster, d.lang, d.source, d.n_chars
  FROM documents d JOIN clusters c USING (doc_id)
), base AS (
  SELECT cluster, CAST(min(doc_id) AS BIGINT) AS record_id,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(max(n_chars) AS BIGINT) AS n_chars_max
  FROM members GROUP BY 1
), lm AS (
  SELECT cluster, lang AS lang_mode FROM (
    SELECT cluster, lang,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY count(*) DESC, lang) AS rn
    FROM members WHERE lang IS NOT NULL GROUP BY cluster, lang
  ) WHERE rn = 1
), sm AS (
  SELECT cluster, source AS source_mode FROM (
    SELECT cluster, source,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY count(*) DESC, source) AS rn
    FROM members WHERE source IS NOT NULL GROUP BY cluster, source
  ) WHERE rn = 1
)
SELECT base.cluster, record_id, n_members, lang_mode, source_mode,
       n_chars_max
FROM base LEFT JOIN lm USING (cluster) LEFT JOIN sm USING (cluster)
""".format(edges=_edge_cte())


# ---------------------------------------------------------------------------
# q192 — market-basket association rules (operators/recommend.py:
# association_rules): brand-level rules over order baskets — which
# brands co-occur in an order beyond chance (lift), with directional
# confidence.  A-priori prune + basket-size cap before the pair join.
# ---------------------------------------------------------------------------

MB_MIN_SUPPORT, MB_TOP_K, MB_MAX_BASKET = 20, 50, 1000


def q192_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return recommend.association_rules(
        baskets,
        "l_orderkey",
        "p_brand",
        min_pair_support=MB_MIN_SUPPORT,
        k=MB_TOP_K,
        max_basket=MB_MAX_BASKET,
    )


Q192_SQL = f"""
WITH inc AS (
  SELECT DISTINCT l_orderkey AS b, p_brand AS i
  FROM lineitem JOIN part ON l_partkey = p_partkey
), sizes AS (
  SELECT b FROM inc GROUP BY b HAVING count(*) <= {MB_MAX_BASKET}
), items AS MATERIALIZED (
  SELECT inc.b, inc.i FROM inc JOIN sizes USING (b)
), nb AS (
  SELECT count(DISTINCT b) AS n FROM items
), marg AS MATERIALIZED (
  SELECT i, CAST(count(*) AS BIGINT) AS n_item FROM items
  GROUP BY i HAVING count(*) >= {MB_MIN_SUPPORT}
), pruned AS MATERIALIZED (
  SELECT b, i FROM items WHERE i IN (SELECT i FROM marg)
), pair AS (
  SELECT a.i AS ia, c.i AS ic, CAST(count(*) AS BIGINT) AS pair_baskets
  FROM pruned a JOIN pruned c ON a.b = c.b AND a.i <> c.i
  GROUP BY 1, 2 HAVING count(*) >= {MB_MIN_SUPPORT}
)
SELECT ia AS antecedent, ic AS consequent, pair_baskets,
       CAST(pair_baskets AS DOUBLE) / ma.n_item AS confidence,
       CAST(pair_baskets * nb.n AS DOUBLE)
         / CAST(ma.n_item * mc.n_item AS DOUBLE) AS lift
FROM pair JOIN marg ma ON ma.i = ia JOIN marg mc ON mc.i = ic, nb
ORDER BY lift DESC, antecedent, consequent
LIMIT {MB_TOP_K}
"""


# ---------------------------------------------------------------------------
# q193 — item-item collaborative filtering (operators/recommend.py:
# item_item_cf): cosine neighbors over the binary customer x brand
# purchase matrix (Sarwar et al., WWW'01) — top-3 most co-purchased
# brands per brand, exact integer counting with one float division.
# ---------------------------------------------------------------------------

CF_MIN_USERS, CF_TOP_NBRS = 5, 3


def q193_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(p), li.l_partkey == p.p_partkey
    )
    return recommend.item_item_cf(
        baskets,
        "o_custkey",
        "p_brand",
        min_users=CF_MIN_USERS,
        n_neighbors=CF_TOP_NBRS,
        max_basket=MB_MAX_BASKET,
    ).withColumnRenamed("rank", "nbr_rank")


Q193_SQL = f"""
WITH inc AS (
  SELECT DISTINCT o_custkey AS b, p_brand AS i
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
), sizes AS (
  SELECT b FROM inc GROUP BY b HAVING count(*) <= {MB_MAX_BASKET}
), items AS MATERIALIZED (
  SELECT inc.b, inc.i FROM inc JOIN sizes USING (b)
), marg AS MATERIALIZED (
  SELECT i, CAST(count(*) AS BIGINT) AS n_users FROM items
  GROUP BY i HAVING count(*) >= {CF_MIN_USERS}
), pruned AS MATERIALIZED (
  SELECT b, i FROM items WHERE i IN (SELECT i FROM marg)
), both_c AS (
  SELECT a.i AS item, c.i AS neighbor, CAST(count(*) AS BIGINT) AS n_both
  FROM pruned a JOIN pruned c ON a.b = c.b AND a.i <> c.i
  GROUP BY 1, 2
), scored AS (
  SELECT item, neighbor, n_both,
         CAST(n_both AS DOUBLE)
           / sqrt(CAST(na.n_users * nx.n_users AS DOUBLE)) AS cosine
  FROM both_c
  JOIN marg na ON na.i = item
  JOIN marg nx ON nx.i = neighbor
), ranked AS (
  SELECT item, neighbor, n_both, cosine,
         row_number() OVER (PARTITION BY item
                            ORDER BY cosine DESC, neighbor) AS rn
  FROM scored
)
SELECT item, neighbor, n_both, cosine, CAST(rn AS BIGINT) AS nbr_rank
FROM ranked WHERE rn <= {CF_TOP_NBRS}
"""


# ---------------------------------------------------------------------------
# q194 — local clustering coefficient (operators/graph.py:
# clustering_coefficient) over the q20 rolling-fingerprint overlap
# graph: 2·t(v)/(d(v)·(d(v)−1)) separates clique-ish template families
# (coeff → 1) from star boilerplate hubs (coeff → 0).
# ---------------------------------------------------------------------------


def q194_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = q20_rolling_overlap(spark, sf_dir).select("id_a", "id_b")
    return graph.clustering_coefficient(edges)


Q194_SQL = """
WITH {edges}, sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
), deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM sym
  GROUP BY 1 HAVING count(*) >= 2
), tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
), tc AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM corners
  GROUP BY node
)
SELECT d.node, d.degree,
       coalesce(tc.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
       CAST(coalesce(tc.n_triangles, CAST(0 AS BIGINT)) * 2 AS DOUBLE)
         / CAST(d.degree * (d.degree - 1) AS DOUBLE) AS coeff
FROM deg d LEFT JOIN tc USING (node)
""".format(edges=_edge_cte())


# ---------------------------------------------------------------------------
# q195 — exact best-split decision stump (operators/curation.py:
# train_stump): the histogram-GBDT split primitive run in-engine over
# the quality features — distinct-value histograms + distributed
# prefix sums, argmin by weighted Gini.
# ---------------------------------------------------------------------------


def q195_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    f = _quality_labeled(spark, sf_dir).join(docs, "doc_id").select(
        "label",
        F.col("score").alias("x1"),
        F.col("n_chars").cast("double").alias("x2"),
    )
    return curation.train_stump(f, ["x1", "x2"], "label")


def _stump_sql() -> str:
    per_feat = []
    for fc in ("x1", "x2"):
        per_feat.append(f"""
SELECT '{fc}' AS feature, v, nl, pl, n, pt
FROM (
  SELECT v,
         CAST(sum(c) OVER w AS BIGINT) AS nl,
         CAST(sum(p) OVER w AS BIGINT) AS pl,
         CAST(sum(c) OVER () AS BIGINT) AS n,
         CAST(sum(p) OVER () AS BIGINT) AS pt
  FROM (
    SELECT CAST({fc} AS DOUBLE) AS v, CAST(sum(label) AS BIGINT) AS p,
           CAST(count(*) AS BIGINT) AS c
    FROM f GROUP BY 1
  ) WINDOW w AS (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)""")
    feats = " UNION ALL ".join(per_feat)
    return f"""
WITH {_QUALITY_CTE}, f AS (
  SELECT s.label AS label, s.score AS x1, CAST(d.n_chars AS DOUBLE) AS x2
  FROM scored s JOIN documents d USING (doc_id)
), cand AS (
  SELECT feature, v AS threshold, nl, pl, n - nl AS nr, pt - pl AS pr, n
  FROM ({feats})
  WHERE n - nl > 0
), sc AS (
  SELECT feature, threshold,
         nl AS n_left, pl AS pos_left, nr AS n_right, pr AS pos_right,
         ((CAST(nl AS DOUBLE) * CAST(nl AS DOUBLE)
            - CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE)
            - CAST(nl - pl AS DOUBLE) * CAST(nl - pl AS DOUBLE))
              * CAST(nr AS DOUBLE)
          + (CAST(nr AS DOUBLE) * CAST(nr AS DOUBLE)
            - CAST(pr AS DOUBLE) * CAST(pr AS DOUBLE)
            - CAST(nr - pr AS DOUBLE) * CAST(nr - pr AS DOUBLE))
              * CAST(nl AS DOUBLE))
         / (CAST(nl AS DOUBLE) * CAST(nr AS DOUBLE))
         / CAST(n AS DOUBLE) AS gini
  FROM cand
)
SELECT feature, threshold, n_left, pos_left, n_right, pos_right, gini
FROM sc ORDER BY gini, feature, threshold LIMIT 1
"""


Q195_SQL = _stump_sql()


# ---------------------------------------------------------------------------
# q196-q202 — the remaining TPC-H query shapes (Q2, Q9, Q11, Q13, Q15,
# Q16, Q20) adapted to this lake's tables.  The testdata has no
# partsupp relation, so the supply relation is DERIVED from lineitem
# (per supplier-part aggregates) wherever the original uses ps_* —
# the correlated-subquery / scalar-threshold / distribution join
# SHAPES (the part that matters for plan quality) are unchanged.
# Revenue/profit follow the q117 exact-decimal convention; scalar
# thresholds attach as crossJoin(broadcast(1-row agg)).
# ---------------------------------------------------------------------------

Q2_TYPE = "LARGE"
Q9_PREFIX = "red"
Q11_MULT = 1.5  # "important" = revenue > 1.5x the average part's
Q13_EXCL = "1-URGENT"
Q15_START, Q15_END = "1997-01-01", "1997-04-01"
Q16_EXCL_BRAND, Q16_EXCL_TYPE = "Brand#1", "PROMO"
Q16_SIZES = (1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)
Q20_PREFIX = "blue"


def q196_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per part (one type), the supplier offering the
    MINIMUM unit cost — the correlated-min rewritten as aggregate+join.
    Unit cost derives from lineitem (min extendedprice/quantity per
    supplier-part pair) in place of ps_supplycost."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == Q2_TYPE
    ).select("p_partkey")
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # sp feeds both the per-part min and the final equality join —
    # persist it (tracked) or the lineitem scan + aggregate runs twice.
    sp = cached(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.col("l_extendedprice") / F.col("l_quantity")
            ).alias("cost")
        )
    )
    best = sp.groupBy(F.col("l_partkey").alias("bp")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        sp.join(
            best,
            (sp.l_partkey == best.bp) & (sp.cost == best.min_cost),
        )
        .join(F.broadcast(supp), sp.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(
            "s_acctbal", "s_name", "n_name",
            F.col("l_partkey").alias("p_partkey"), "cost",
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"),
            F.asc("p_partkey"),
        )
        .limit(100)
    )


Q196_SQL = f"""
WITH sp AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS cost
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = '{Q2_TYPE}'
  GROUP BY 1, 2
), best AS (
  SELECT l_partkey AS bp, min(cost) AS min_cost FROM sp GROUP BY 1
)
SELECT s_acctbal, s_name, n_name, sp.l_partkey AS p_partkey, cost
FROM sp
JOIN best ON sp.l_partkey = best.bp AND sp.cost = best.min_cost
JOIN supplier ON sp.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q197_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for one
    part-name family; cost term is 0.60 * p_retailprice * l_quantity in
    place of ps_supplycost (retailprice has <=2dp, quantity is integral,
    so the decimal pipeline stays exact)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").startswith(Q9_PREFIX)
    ).select("p_partkey", "p_retailprice")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = _revenue() - (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.lit("0.60").cast("decimal(3,2)")
        * F.col("l_quantity").cast("decimal(12,2)")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum(amount).cast("decimal(38,6)")
            .cast("string").cast("double").alias("profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


Q197_SQL = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(CAST(sum({_REV_SQL}
           - CAST(p_retailprice AS DECIMAL(12,2))
             * CAST('0.60' AS DECIMAL(3,2))
             * CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,6))
         AS VARCHAR) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '{Q9_PREFIX}%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


def q198_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue exceeds a threshold derived
    from TOTAL revenue — the scalar-subquery attach as a broadcast
    1-row aggregate, never a driver collect.  The original's fixed
    fraction-of-total is scale-DEPENDENT (10x more parts halves every
    share 10x and empties the result), so the threshold is a multiple
    of the AVERAGE part's revenue — scale-free under growth."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    dbl = lambda c: c.cast("decimal(38,4)").cast("string").cast("double")  # noqa: E731
    # per_part feeds the grand-total aggregate AND the threshold
    # filter — one persist.
    per_part = cached(
        li.groupBy("l_partkey").agg(dbl(F.sum(_revenue())).alias("revenue"))
    )
    # re-quantize the per-part doubles into DECIMAL before the grand
    # total: a plain double sum is partition-order-dependent.
    total = per_part.agg(
        dbl(F.sum(F.col("revenue").cast("decimal(38,4)"))).alias("__total"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("revenue")
            > F.lit(Q11_MULT) * (F.col("__total") / F.col("__n"))
        )
        .select("l_partkey", "revenue")
        .orderBy(F.desc("revenue"), F.asc("l_partkey"))
    )


Q198_SQL = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(CAST(CAST(sum({_REV_SQL}) AS DECIMAL(38,4)) AS VARCHAR)
           AS DOUBLE) AS revenue
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(CAST(CAST(sum(CAST(revenue AS DECIMAL(38,4)))
           AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS t,
         CAST(count(*) AS BIGINT) AS n
  FROM per_part
)
SELECT l_partkey, revenue
FROM per_part, tot
WHERE revenue > {Q11_MULT} * (t / n)
ORDER BY revenue DESC, l_partkey
"""


def q199_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count
    INCLUDING zero-order customers — the filtered left join + double
    aggregation."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != Q13_EXCL
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q199_SQL = f"""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
             WHERE o_orderpriority <> '{Q13_EXCL}') o
    ON c_custkey = o.o_custkey
  GROUP BY 1
)
GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""


def q200_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the top-revenue supplier(s) of one quarter via
    a scalar max over the revenue view (broadcast 1-row attach + an
    equality filter — returns ALL ties, as the original requires)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q15_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q15_END).cast("timestamp"))
    )
    dbl = lambda c: c.cast("decimal(38,4)").cast("string").cast("double")  # noqa: E731
    # rev feeds the scalar max AND the equality filter — one persist.
    rev = cached(
        li.groupBy("l_suppkey").agg(
            dbl(F.sum(_revenue())).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q200_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(CAST(CAST(sum({_REV_SQL}) AS DECIMAL(38,4)) AS VARCHAR)
           AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_START}'
    AND l_shipdate < TIMESTAMP '{Q15_END}'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q201_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    combo, excluding one brand/type and flagged suppliers (negative
    account balance stands in for the complaints filter) via anti-join.
    The supplier-part relation derives from lineitem."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_EXCL_BRAND)
        & (F.col("p_type") != Q16_EXCL_TYPE)
        & F.col("p_size").isin(*Q16_SIZES)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    pairs = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"),
            F.asc("p_size"),
        )
    )


Q201_SQL = f"""
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{Q16_EXCL_BRAND}'
  AND p_type <> '{Q16_EXCL_TYPE}'
  AND p_size IN {Q16_SIZES}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q202_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who dominate the supply of a part
    family — shipped more than twice the part's AVERAGE per-supplier
    quantity (the original's 0.5*sum(availqty) excess test, re-based on
    the average because this lake's supply is many-supplier fragmented)
    — with the nested correlated subqueries rewritten as two
    aggregations over the derived supply relation and a threshold
    join."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").startswith(Q20_PREFIX)
    ).select("p_partkey")
    dbl = lambda c: c.cast("decimal(38,2)").cast("string").cast("double")  # noqa: E731
    fam = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    # sp feeds the per-part totals AND the threshold join — one persist.
    sp = cached(
        fam.groupBy("l_partkey", "l_suppkey").agg(
            dbl(F.sum(F.col("l_quantity").cast("decimal(12,2)")))
            .alias("sp_qty")
        )
    )
    tot = sp.groupBy(F.col("l_partkey").alias("tp")).agg(
        F.sum("sp_qty").alias("part_qty"),
        F.count(F.lit(1)).alias("n_supp"),
    )
    dominant = sp.join(tot, sp.l_partkey == tot.tp).filter(
        F.col("sp_qty")
        > F.lit(2.0) * (F.col("part_qty") / F.col("n_supp"))
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        dominant.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("s_name", "n_name", "n_dominant_parts")
        .orderBy("s_name")
    )


Q202_SQL = f"""
WITH fam AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '{Q20_PREFIX}%'
), sp AS (
  SELECT l_partkey, l_suppkey,
         CAST(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
           AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sp_qty
  FROM fam GROUP BY 1, 2
), tot AS (
  SELECT l_partkey AS tp, sum(sp_qty) AS part_qty,
         CAST(count(*) AS BIGINT) AS n_supp
  FROM sp GROUP BY 1
)
SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS n_dominant_parts
FROM sp
JOIN tot ON sp.l_partkey = tot.tp
JOIN supplier ON sp.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE sp_qty > 2.0 * (part_qty / n_supp)
GROUP BY 1, 2
ORDER BY s_name
"""


# ---------------------------------------------------------------------------
# q203 — sorted-neighborhood blocking (operators/fuzzy_join.py:
# sorted_neighborhood_pairs): Hernández-Stolfo linkage candidates over
# customer names — distributed prefix-sum ranks + rank+offset
# equi-join, no global sort.
# ---------------------------------------------------------------------------

SNB_WINDOW = 5


def q203_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return fuzzy_join.sorted_neighborhood_pairs(
        c, "c_name", "c_custkey", window=SNB_WINDOW
    )


Q203_SQL = f"""
WITH base AS (
  SELECT c_name AS k, c_custkey AS id FROM customer
), r AS (
  SELECT k, id,
         CAST(row_number() OVER (ORDER BY k, id) - 1 AS BIGINT) AS rnk
  FROM base
)
SELECT a.id AS id_a, b.id AS id_b, a.k AS key_a, b.k AS key_b,
       CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap
FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + {SNB_WINDOW}
"""


# ---------------------------------------------------------------------------
# q204 — personalized PageRank (operators/graph.py:
# personalized_pagerank): seed-restart rank over the q20 near-dup
# graph from the q190 seed slice — fixed-point integer arithmetic,
# unrolled oracle.
# ---------------------------------------------------------------------------

PPR_SEED_PCT = 5


def q204_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    seeds = docs.filter(
        splits.hash_bucket(F.col("doc_id")) < PPR_SEED_PCT
    ).select(F.col("doc_id").alias("node"))
    edges = q20_rolling_overlap(spark, sf_dir).select("id_a", "id_b")
    return graph.personalized_pagerank(edges, seeds, iters=PR_ITERS)


def _ppr_oracle_sql() -> str:
    num, den, scale = 17, 20, 10**12
    head = f"""
WITH {{edges}}, sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u
), sd AS (
  SELECT DISTINCT doc_id AS u FROM documents
  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INTEGER % 100
        < {PPR_SEED_PCT}
), dg AS (
  SELECT deg.u, deg.deg,
         CASE WHEN sd.u IS NOT NULL THEN 1 ELSE 0 END AS isd
  FROM deg LEFT JOIN sd ON deg.u = sd.u
), nsq AS (
  SELECT CAST(sum(isd) AS BIGINT) AS ns FROM dg
), r0 AS (
  SELECT u, deg, isd, ns,
         CASE WHEN isd = 1 THEN CAST({scale} AS BIGINT) // ns
              ELSE CAST(0 AS BIGINT) END AS rank
  FROM dg, nsq
)"""
    iters = []
    for i in range(1, PR_ITERS + 1):
        prev = f"r{i - 1}"
        iters.append(f"""
, c{i} AS (
  SELECT u, rank // deg AS contrib FROM {prev}
), i{i} AS (
  SELECT s.v AS u, CAST(sum(c.contrib) AS BIGINT) AS s
  FROM sym s JOIN c{i} c ON s.u = c.u GROUP BY s.v
), r{i} AS (
  SELECT d.u, d.deg, d.isd, d.ns,
         CASE WHEN d.isd = 1
              THEN CAST({scale * (den - num)} AS BIGINT)
                   // (CAST({den} AS BIGINT) * d.ns)
              ELSE CAST(0 AS BIGINT) END
         + (CAST({num} AS BIGINT)
            * coalesce(i{i}.s, CAST(0 AS BIGINT))) // {den} AS rank
  FROM {prev} d LEFT JOIN i{i} ON d.u = i{i}.u
)""")
    tail = f"""
SELECT u AS node, CAST(rank AS BIGINT) AS rank_scaled FROM r{PR_ITERS}
"""
    return (head + "".join(iters) + tail).format(edges=_edge_cte())


Q204_SQL = _ppr_oracle_sql()


# ---------------------------------------------------------------------------
# q205 — EVEN-period seasonal decomposition (operators/timeseries.py:
# seasonal_decompose): the classical 2×period centered moving average
# (period+1-row outer window, half weight on the end rows, realized as
# outer+inner window sums in exact integers).  Exercises the even
# branch the round-4 advisor flagged as unreachable; period=4 over the
# per-type daily event series.
# ---------------------------------------------------------------------------

SEASON_EVEN_PERIOD = 4


def q205_seasonal_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("x"))
    return (
        timeseries.seasonal_decompose(
            daily, "event_type", "day", "x", period=SEASON_EVEN_PERIOD
        )
        .select(
            "event_type",
            F.col("phase").cast("long").alias("phase"),
            "n_obs",
            "seasonal",
        )
        .orderBy("event_type", "phase")
    )


Q205_SQL = f"""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), w AS (
  SELECT event_type, day, x,
         sum(x) OVER wo AS swo, count(*) OVER wo AS wno,
         sum(x) OVER wi AS swi
  FROM d
  WINDOW wo AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN {SEASON_EVEN_PERIOD // 2} PRECEDING
                         AND {SEASON_EVEN_PERIOD // 2} FOLLOWING),
         wi AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN {SEASON_EVEN_PERIOD // 2 - 1} PRECEDING
                         AND {SEASON_EVEN_PERIOD // 2 - 1} FOLLOWING)
), full_w AS (
  SELECT event_type,
         (day - DATE '1970-01-01') % {SEASON_EVEN_PERIOD} AS phase,
         {2 * SEASON_EVEN_PERIOD} * x - swo - swi AS dev
  FROM w WHERE wno = {SEASON_EVEN_PERIOD + 1}
)
SELECT event_type, CAST(phase AS BIGINT) AS phase,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(dev) AS DOUBLE)
         / ({2 * SEASON_EVEN_PERIOD}.0 * CAST(count(*) AS DOUBLE)) AS seasonal
FROM full_w GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# q206 — HITS hubs & authorities (operators/graph.py:hits): bipartite
# supplier→part incidence from lineitem, 2 exact-integer rounds.
# ---------------------------------------------------------------------------

HITS_ROUNDS = 2


def q206_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return graph.hits(edges, rounds=HITS_ROUNDS)


Q206_SQL = """
WITH e AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS d FROM lineitem
), a1 AS (
  SELECT d, CAST(count(*) AS BIGINT) AS a FROM e GROUP BY d
), h1 AS (
  SELECT s, CAST(sum(a) AS BIGINT) AS h FROM e JOIN a1 USING (d) GROUP BY s
), a2 AS (
  SELECT d, CAST(sum(h) AS BIGINT) AS a FROM e JOIN h1 USING (s) GROUP BY d
), h2 AS (
  SELECT s, CAST(sum(a) AS BIGINT) AS h FROM e JOIN a2 USING (d) GROUP BY s
)
SELECT 'hub' AS side, s AS node, h AS score FROM h2
UNION ALL
SELECT 'authority' AS side, d AS node, a AS score FROM a2
"""


# ---------------------------------------------------------------------------
# q207 — degree assortativity (operators/graph.py:assortativity) of the
# q20 near-dup graph: Pearson degree-degree correlation in exact
# decimal moments, sqrt-free symmetric form.
# ---------------------------------------------------------------------------


def q207_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = q20_rolling_overlap(spark, sf_dir).select("id_a", "id_b")
    return graph.assortativity(edges)


Q207_SQL = """
WITH {edges}, sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
), deg AS (
  SELECT u AS n, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1
), pairs AS (
  SELECT du.deg AS x, dv.deg AS y
  FROM sym JOIN deg du ON du.n = sym.u JOIN deg dv ON dv.n = sym.v
), mom AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS m,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx
  FROM pairs
)
SELECT CAST(m AS BIGINT) AS m_directed,
       CASE WHEN CAST(CAST(m * sxx - sx * sx AS VARCHAR) AS DOUBLE) <> 0.0
            THEN CAST(CAST(m * sxy - sx * sx AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(m * sxx - sx * sx AS VARCHAR) AS DOUBLE)
       END AS assortativity
FROM mom
""".format(edges=_edge_cte())


# ---------------------------------------------------------------------------
# q208 — record-setting revenue days (operators/timeseries.py:
# record_highs): days whose order revenue strictly exceeds every
# earlier day's — running max via the distributed prefix-MAX scan.
# ---------------------------------------------------------------------------


def q208_record_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    rec = timeseries.record_highs(daily, "day", "rev")
    return rec.select(
        "day",
        F.col("rev").cast("string").cast("double").alias("rev"),
        F.col("prev_max").cast("string").cast("double").alias("prev_max"),
    ).orderBy("day")


Q208_SQL = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
           AS rev
  FROM orders GROUP BY 1
), marked AS (
  SELECT day, rev,
         max(rev) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM daily
)
SELECT day, CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rev,
       CAST(CAST(prev_max AS VARCHAR) AS DOUBLE) AS prev_max
FROM marked
WHERE prev_max IS NULL OR rev > prev_max
ORDER BY day
"""


# ---------------------------------------------------------------------------
# q209 — lang × source pointwise mutual information
# (operators/text_analysis.py:pmi_table): where the corpus mix is
# associated, cell by cell (chi-square q167's "where" companion).
# ---------------------------------------------------------------------------


def q209_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.pmi_table(docs, "lang", "source").select(
        F.col("a").alias("lang"),
        F.col("b").alias("source"),
        "n_both",
        "pmi",
    ).orderBy("lang", "source")


Q209_SQL = """
WITH cells AS (
  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS n_both
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2
), ma AS (
  SELECT a, CAST(sum(n_both) AS BIGINT) AS n_a FROM cells GROUP BY a
), mb AS (
  SELECT b, CAST(sum(n_both) AS BIGINT) AS n_b FROM cells GROUP BY b
), tot AS (
  SELECT CAST(sum(n_both) AS BIGINT) AS n FROM cells
)
SELECT a AS lang, b AS source, n_both,
       round(ln(CAST(n * n_both AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)), 6)
         AS pmi
FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# q210 — temperature-scaled source mixing weights
# (operators/curation.py:source_mixing_weights): √count sampling
# weights with a sorted sequential normalizer fold.
# ---------------------------------------------------------------------------


def q210_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return curation.source_mixing_weights(docs, "source").orderBy("source")


Q210_SQL = """
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents WHERE source IS NOT NULL GROUP BY 1
), z AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(list_sort(list({'source': source,
                                          'n_docs': n_docs})),
             s -> sqrt(CAST(s.n_docs AS DOUBLE)))),
           (acc, v) -> acc + v) AS z
  FROM counts
)
SELECT source, n_docs,
       sqrt(CAST(n_docs AS DOUBLE)) / z AS weight,
       CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS raw_share
FROM counts CROSS JOIN z
ORDER BY source
"""


# ---------------------------------------------------------------------------
# q211 — exact-integer PCA top component (operators/similarity.py:
# pca_top_component): quantized Gramian via one Arrow pass, fixed-point
# power iteration on the d²-row scatter matrix, per-vector PC1 scores.
# Oracle: the identical integer recurrence unrolled as CTEs.
# ---------------------------------------------------------------------------

PCA_X_SCALE, PCA_V_SCALE, PCA_ITERS = 10**4, 10**6, 6


def q211_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pca_top_component(
        emb,
        vec_col="embedding",
        id_col="vec_id",
        x_scale=PCA_X_SCALE,
        v_scale=PCA_V_SCALE,
        iters=PCA_ITERS,
    )


def _pca_oracle_sql() -> str:
    xs, vs = PCA_X_SCALE, PCA_V_SCALE
    head = f"""
WITH q AS MATERIALIZED (
  SELECT vec_id, j,
         CAST(floor(embedding[j]::DOUBLE * {xs}) AS BIGINT) AS x
  FROM (SELECT vec_id, embedding,
               unnest(range(1, len(embedding) + 1)) AS j
        FROM embeddings)
), nn AS (
  SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings
), sx AS MATERIALIZED (
  SELECT j, CAST(sum(x) AS HUGEINT) AS sx FROM q GROUP BY j
), sxy AS MATERIALIZED (
  SELECT a.j AS i, b.j AS jj, CAST(sum(a.x * b.x) AS HUGEINT) AS s
  FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2
), c AS MATERIALIZED (
  SELECT sxy.i, sxy.jj AS j,
         (SELECT n FROM nn) * sxy.s - sa.sx * sb.sx AS c
  FROM sxy JOIN sx sa ON sa.j = sxy.i JOIN sx sb ON sb.j = sxy.jj
), v0 AS (
  SELECT j, CAST({vs} AS HUGEINT) AS v FROM sx
)"""
    its = []
    for t in range(1, PCA_ITERS + 1):
        its.append(f"""
, w{t} AS MATERIALIZED (
  SELECT c.i AS j, CAST(sum(c.c * v.v) AS HUGEINT) AS w
  FROM c JOIN v{t - 1} v ON c.j = v.j GROUP BY 1
), m{t} AS (
  SELECT max(abs(w)) AS m FROM w{t}
), v{t} AS MATERIALIZED (
  SELECT j, CASE WHEN w < 0 THEN -((-w * {vs}) // m)
                 ELSE (w * {vs}) // m END AS v
  FROM w{t}, m{t}
)""")
    tail = f"""
, lead AS (
  SELECT CASE WHEN (SELECT v FROM v{PCA_ITERS}
                    ORDER BY abs(v) DESC, j ASC LIMIT 1) < 0
              THEN CAST(-1 AS HUGEINT) ELSE CAST(1 AS HUGEINT) END AS flip
), vf AS MATERIALIZED (
  SELECT j, v * flip AS v FROM v{PCA_ITERS}, lead
), sxv AS (
  SELECT CAST(sum(sx.sx * vf.v) AS HUGEINT) AS sxv
  FROM sx JOIN vf USING (j)
), dots AS (
  SELECT q.vec_id, CAST(sum(q.x * vf.v) AS HUGEINT) AS xv
  FROM q JOIN vf USING (j) GROUP BY 1
)
SELECT vec_id,
       CAST(CAST((SELECT n FROM nn) * xv - (SELECT sxv FROM sxv)
            AS VARCHAR) AS DOUBLE) AS pc1_scaled,
       CAST(CAST((SELECT n FROM nn) * xv - (SELECT sxv FROM sxv)
            AS VARCHAR) AS DOUBLE)
         / (CAST(CAST((SELECT n FROM nn) AS VARCHAR) AS DOUBLE)
            * {float(xs) * float(vs)!r}) AS pc1
FROM dots
"""
    return head + "".join(its) + tail


Q211_SQL = _pca_oracle_sql()


# ---------------------------------------------------------------------------
# q212 — isotonic (PAVA) calibration map (operators/evaluation.py:
# isotonic_calibration): monotone repair of q146's reliability table
# via the minimax segment-mean characterization (oracle-expressible,
# no data-dependent recursion).
# ---------------------------------------------------------------------------


def q212_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluation.isotonic_calibration(
        _quality_labeled(spark, sf_dir), "score", "label", "doc_id",
        bins=CAL_BINS,
    )


Q212_SQL = f"""
WITH {{q}}, binned AS (
  SELECT label,
         (CAST(row_number() OVER (ORDER BY score, doc_id) - 1 AS BIGINT)
          * {CAL_BINS}) // count(*) OVER () AS bin
  FROM scored
), b AS MATERIALIZED (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS p
  FROM binned GROUP BY bin
), pre AS MATERIALIZED (
  SELECT bin, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
         CAST(sum(p) OVER (ORDER BY bin) AS BIGINT) AS cp
  FROM b
), pre2 AS MATERIALIZED (
  -- lag() over OCCUPIED bins (not bin-1): bin ids may be sparse when
  -- the labeled row count is below the bin count, and the
  -- implementation's cumulative sums are positional over occupied bins
  SELECT bin, cn, cp,
         CAST(coalesce(lag(cn) OVER (ORDER BY bin), 0) AS BIGINT) AS pcn,
         CAST(coalesce(lag(cp) OVER (ORDER BY bin), 0) AS BIGINT) AS pcp
  FROM pre
), segs AS MATERIALIZED (
  SELECT i.bin AS i, j.bin AS j,
         CAST(j.cp - i.pcp AS DOUBLE)
           / CAST(j.cn - i.pcn AS DOUBLE) AS seg_avg
  FROM pre2 j JOIN pre2 i ON i.bin <= j.bin
), inner_min AS (
  SELECT k.bin AS k, s.i, min(s.seg_avg) AS m
  FROM b k JOIN segs s ON s.i <= k.bin AND s.j >= k.bin
  GROUP BY 1, 2
), fit AS (
  SELECT k AS bin, max(m) AS fitted FROM inner_min GROUP BY k
)
SELECT b.bin, b.n AS n_rows, b.p AS n_pos,
       CAST(b.p AS DOUBLE) / CAST(b.n AS DOUBLE) AS pos_rate, f.fitted
FROM b JOIN fit f USING (bin) ORDER BY bin
""".format(q=_QUALITY_CTE)


# ---------------------------------------------------------------------------
# q213 — weight of evidence / information value per source
# (operators/encoding.py:woe_iv): log-odds separation of the English
# label by corpus slice, half-count adjusted.
# ---------------------------------------------------------------------------


def q213_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    labeled = docs.select(
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
    )
    return encoding.woe_iv(labeled, "source", "is_en").orderBy("category")


Q213_SQL = """
WITH cells AS (
  SELECT source AS category,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pos,
         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
           AS n_neg
  FROM documents WHERE source IS NOT NULL GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS p, CAST(sum(n_neg) AS BIGINT) AS n
  FROM cells
)
SELECT category, n_pos, n_neg,
       round(ln(CAST((2 * n_pos + 1) * n AS DOUBLE)
                / CAST((2 * n_neg + 1) * p AS DOUBLE)), 6) AS woe,
       round((CAST(2 * n_pos + 1 AS DOUBLE) / CAST(2 * p AS DOUBLE)
              - CAST(2 * n_neg + 1 AS DOUBLE) / CAST(2 * n AS DOUBLE))
             * round(ln(CAST((2 * n_pos + 1) * n AS DOUBLE)
                        / CAST((2 * n_neg + 1) * p AS DOUBLE)), 6), 6)
         AS iv_term
FROM cells CROSS JOIN tot
ORDER BY category
"""


# ---------------------------------------------------------------------------
# q214 — exact-integer distributed k-means (operators/similarity.py:
# kmeans_lloyd_exact): 3 full Lloyd rounds over the embeddings in
# quantized integer arithmetic; oracle replays the identical
# recurrence (truncating centroid means, struct-min assignment).
# ---------------------------------------------------------------------------

KM_K, KM_ITERS = 8, 3


def q214_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kmeans_lloyd_exact(
        emb, k=KM_K, iters=KM_ITERS, x_scale=PCA_X_SCALE
    )


def _kmeans_oracle_sql() -> str:
    k, iters, xs = KM_K, KM_ITERS, PCA_X_SCALE
    head = f"""
WITH q AS MATERIALIZED (
  SELECT vec_id, j,
         CAST(floor(embedding[j]::DOUBLE * {xs}) AS BIGINT) AS x
  FROM (SELECT vec_id, embedding,
               unnest(range(1, len(embedding) + 1)) AS j
        FROM embeddings)
), seeds AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
  FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
), c0 AS MATERIALIZED (
  SELECT s.cid, q.j, q.x AS c FROM q JOIN seeds s USING (vec_id)
)"""
    its = []
    for t in range(1, iters + 1):
        its.append(f"""
, d{t} AS (
  SELECT q.vec_id, c.cid,
         CAST(sum((q.x - c.c) * (q.x - c.c)) AS BIGINT) AS dist
  FROM q JOIN c{t - 1} c USING (j) GROUP BY 1, 2
), a{t} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d{t}) WHERE rn = 1
), c{t} AS MATERIALIZED (
  SELECT a.cid, q.j,
         CASE WHEN sum(q.x) < 0 THEN -((-sum(q.x)) // count(*))
              ELSE sum(q.x) // count(*) END AS c
  FROM q JOIN a{t} a USING (vec_id) GROUP BY 1, 2
)""")
    tail = f"""
, dfin AS (
  SELECT q.vec_id, c.cid,
         CAST(sum((q.x - c.c) * (q.x - c.c)) AS BIGINT) AS dist
  FROM q JOIN c{iters} c USING (j) GROUP BY 1, 2
), afin AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM dfin) WHERE rn = 1
), sizes AS (
  SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(dist) AS BIGINT) AS inertia
  FROM afin GROUP BY 1
), sums AS (
  SELECT cid AS cluster, CAST(sum(c) AS BIGINT) AS centroid_sum
  FROM c{iters} GROUP BY 1
)
SELECT s.cluster, s.n_vecs, s.inertia, m.centroid_sum
FROM sizes s JOIN sums m USING (cluster) ORDER BY cluster
"""
    return head + "".join(its) + tail


Q214_SQL = _kmeans_oracle_sql()


# ---------------------------------------------------------------------------
# q215 — grouped exact percentiles on the FEW-GROUPS distributed scan
# (operators/_scan.py:prefix_scan two_level=True): the q94/q33 shape
# with #groups ≪ cores routed through the grouped two-level prefix
# scan — the 100 TB flip (BENCH_SCALE.md "q94 floor"), registry-proven
# bit-identical against the same oracle a per-group window would get.
# ---------------------------------------------------------------------------


def q215_value_percentiles_fg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return stats.grouped_exact_percentiles(
        ev,
        "event_type",
        "value",
        {"p25": 0.25, "median": 0.5, "p90": 0.9},
        few_groups=True,
    ).orderBy("event_type")


Q215_SQL = """
SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.5) AS median,
       quantile_cont(value, 0.9) AS p90
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q218 — grouped HyperLogLog distinct estimates, audited per group
# (operators/sketch.py:grouped_hll_distinct): per-source token
# vocabulary — the MERGEABLE per-slice sketch state (register maxima
# union by max), grouped form of q159.
# ---------------------------------------------------------------------------


def q218_grouped_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    return sketch.grouped_hll_distinct(toks, "source", F.col("tok"), b=HLL_B)


_HLL_ALPHA_M2 = (0.7213 / (1.0 + 1.079 / 256)) * 65536.0

Q218_SQL = f"""
WITH tokg0 AS (
  SELECT source, unnest(string_split({_NORM}, ' ')) AS t FROM documents
), tokg AS MATERIALIZED (
  SELECT source, t FROM tokg0 WHERE t <> '' AND source IS NOT NULL
), hashed AS (
  SELECT source, ('0x' || substr(md5('hll:' || t), 1, 15))::BIGINT AS h
  FROM tokg
), rr AS (
  SELECT source, (h >> 52) & 255 AS reg,
         CASE WHEN (h & {(1 << 52) - 1}) = 0 THEN 53
              ELSE 52 - length(bin(h & {(1 << 52) - 1})) + 1 END AS rho
  FROM hashed
), regs AS (
  SELECT source, reg, max(rho) AS M FROM rr GROUP BY 1, 2
), agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS present,
         sum(1.0 / CAST(1::BIGINT << CAST(M AS INTEGER) AS DOUBLE))
           AS sum_present
  FROM regs GROUP BY 1
), est AS (
  SELECT source, CAST(256 - present AS BIGINT) AS n_empty_registers,
         {_HLL_ALPHA_M2!r}
           / (sum_present + CAST(256 - present AS DOUBLE)) AS raw_estimate
  FROM agg
), fin AS (
  SELECT source, n_empty_registers,
         CASE WHEN raw_estimate <= 640.0 AND n_empty_registers > 0
              THEN round(256.0 * ln(256.0
                         / CAST(n_empty_registers AS DOUBLE)), 6)
              ELSE raw_estimate END AS estimate
  FROM est
), ex AS (
  SELECT source, CAST(count(DISTINCT t) AS BIGINT) AS exact_distinct
  FROM tokg GROUP BY 1
)
SELECT f.source, 256 AS m, f.n_empty_registers, f.estimate,
       e.exact_distinct,
       (f.estimate - CAST(e.exact_distinct AS DOUBLE))
         / CAST(e.exact_distinct AS DOUBLE) AS rel_error
FROM fin f JOIN ex e USING (source) ORDER BY f.source
"""


# ---------------------------------------------------------------------------
# q219 — Theil-Sen robust daily trend per event type
# (operators/timeseries.py:theil_sen_trend): median of pairwise daily
# slopes — O(days²) per group, calendar-bounded, row-count independent.
# ---------------------------------------------------------------------------


def q219_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return timeseries.theil_sen_trend(ev, "event_type", "ts", "value")


Q219_SQL = """
WITH daily AS MATERIALIZED (
  SELECT event_type AS g,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS m
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), pairs AS (
  SELECT a.g, (b.m - a.m) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON a.g = b.g AND a.d < b.d
), med AS (
  SELECT g, quantile_cont(slope, 0.5) AS theil_sen_slope
  FROM pairs GROUP BY 1
), cnt AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
)
SELECT g AS event_type, n_days,
       CAST(n_days * (n_days - 1) / 2 AS BIGINT) AS n_pairs,
       theil_sen_slope
FROM cnt JOIN med USING (g) ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q220 — Flesch readability per document
# (operators/text_analysis.py:readability_scores): three regexp_count
# projections + a fixed double expression tree — scan-side only.
# ---------------------------------------------------------------------------


def q220_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.readability_scores(docs).orderBy("doc_id")


Q220_SQL = """
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
           AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS n_sentences,
         CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
           AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(206.835 AS DOUBLE)
         - CAST(1.015 AS DOUBLE)
           * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         - CAST(84.6 AS DOUBLE)
           * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         AS flesch
FROM c WHERE n_words > 0 ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q221 — split-conformal prediction intervals per order priority
# (operators/evaluation.py:split_conformal_interval): hash-split
# calibration, finite-sample order-statistic half-width, exact
# test-set coverage — the distribution-free uncertainty audit.
# ---------------------------------------------------------------------------


def q221_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return evaluation.split_conformal_interval(
        o, "o_orderpriority", "o_totalprice", "o_orderkey"
    )


Q221_SQL = """
WITH r AS MATERIALIZED (
  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS y,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))::INTEGER
           % 100 < 50 AS cal
  FROM orders WHERE o_totalprice IS NOT NULL
), mu AS (
  SELECT g,
         CAST(CAST(sum(CAST(y AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mu,
         CAST(count(*) AS BIGINT) AS n_calib
  FROM r WHERE cal GROUP BY 1
), resid AS MATERIALIZED (
  SELECT r.g, r.cal, mu.n_calib, abs(r.y - mu.mu) AS rr
  FROM r JOIN mu ON r.g = mu.g
), hist AS (
  SELECT g, rr, n_calib, CAST(count(*) AS BIGINT) AS cnt
  FROM resid WHERE cal GROUP BY 1, 2, 3
), ranked AS (
  SELECT g, rr, n_calib,
         CAST(sum(cnt) OVER (PARTITION BY g ORDER BY rr) AS BIGINT) AS cum
  FROM hist
), qh AS (
  SELECT g, min(rr) AS qhat, min(n_calib) AS n_calib
  FROM ranked
  WHERE cum >= least(((n_calib + 1) * 9 + 9) // 10, n_calib)
  GROUP BY 1
), cov AS (
  SELECT t.g, CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN t.rr <= q.qhat THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS coverage
  FROM resid t JOIN qh q USING (g) WHERE NOT t.cal GROUP BY 1
)
SELECT qh.g AS o_orderpriority, qh.n_calib, cov.n_test, qh.qhat,
       cov.coverage, CAST(0.9 AS DOUBLE) AS target
FROM qh JOIN cov USING (g) ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q222 — segmented chi-square drift scan with Benjamini-Hochberg FDR
# (operators/hypothesis.py:chi2_gof_even_dof_pvalues + bh_fdr): one
# goodness-of-fit test per source (lang distribution vs pooled, dof 2
# so the p-value is the closed form exp(−χ²/2)), then step-up FDR over
# the 20 tests — the multiple-comparison gate a segmented drift
# dashboard needs.
# ---------------------------------------------------------------------------


def q222_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pv = hypothesis.chi2_gof_even_dof_pvalues(docs, "source", "lang", 3)
    return hypothesis.bh_fdr(pv, "source", "p_value", 1, 20)


Q222_SQL = """
WITH base AS (
  SELECT source AS t,
         ('0x' || substr(md5(lang), 1, 4))::INTEGER % 3 AS b
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
), cells AS MATERIALIZED (
  SELECT t, b, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1, 2
), nt AS (SELECT t, CAST(sum(n) AS BIGINT) AS nt FROM cells GROUP BY 1),
nb AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY 1),
g AS (SELECT CAST(sum(n) AS BIGINT) AS N FROM cells),
dense AS (
  SELECT nt.t, nt.nt, nb.b,
         CAST(nt.nt AS DOUBLE) * CAST(nb.nb AS DOUBLE)
           / CAST(g.N AS DOUBLE) AS e,
         CAST(coalesce(c.n, 0) AS DOUBLE) AS o
  FROM nt CROSS JOIN nb CROSS JOIN g
  LEFT JOIN cells c ON c.t = nt.t AND c.b = nb.b
), stat AS (
  SELECT t, min(nt) AS n_rows,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(
             list_sort(list({'b': b, 'x': (o - e) * (o - e) / e})),
             s -> s.x)),
           (a, v) -> a + v) AS chi2
  FROM dense GROUP BY t
), pv AS MATERIALIZED (
  SELECT t, round(exp(-(chi2 / 2.0)) * 1.0, 12) AS p FROM stat
), hist AS (
  SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM pv GROUP BY 1
), cum AS (
  SELECT p, CAST(sum(cnt) OVER (ORDER BY p) AS BIGINT) AS rnk FROM hist
), m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pv),
crossed AS (
  SELECT p, rnk,
         (p * CAST(m.m AS DOUBLE) * 20.0
          <= CAST(rnk AS DOUBLE) * 1.0) AS cr
  FROM cum, m
), ps AS (SELECT max(CASE WHEN cr THEN p END) AS pstar FROM crossed)
SELECT pv.t AS source, pv.p AS p_value, c.rnk AS bh_rank,
       CASE WHEN ps.pstar IS NULL THEN FALSE
            ELSE pv.p <= ps.pstar END AS rejected
FROM pv JOIN crossed c USING (p) CROSS JOIN ps
ORDER BY p_value, source
"""


# ---------------------------------------------------------------------------
# q223 — Kneser-Ney bigram cross-entropy per document
# (operators/text_analysis.py:kneser_ney_doc_scores): interpolated KN
# with exact dyadic discount 3/4; the KenLM-style perplexity filter.
# ---------------------------------------------------------------------------


def q223_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.kneser_ney_doc_scores(docs).orderBy("doc_id")


Q223_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS a FROM documents
), bi0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                i -> {{'v': a[i], 'w': a[i + 1]}})) AS s
  FROM d
), bi AS (
  SELECT doc_id, s.v AS v, s.w AS w FROM bi0
  WHERE s.v <> '' AND s.w <> '' AND s.w IS NOT NULL
), db AS MATERIALIZED (
  SELECT doc_id, v, w, CAST(count(*) AS BIGINT) AS c FROM bi
  GROUP BY 1, 2, 3
), types AS MATERIALIZED (
  SELECT v, w, CAST(sum(c) AS BIGINT) AS cb FROM db GROUP BY 1, 2
), ctx AS (
  SELECT v, CAST(sum(cb) AS BIGINT) AS cv, CAST(count(*) AS BIGINT) AS fwd
  FROM types GROUP BY 1
), bwd AS (
  SELECT w, CAST(count(*) AS BIGINT) AS bwd FROM types GROUP BY 1
), na AS (SELECT CAST(count(*) AS BIGINT) AS nall FROM types),
model AS (
  SELECT t.v, t.w,
         round(ln((CAST(t.cb AS DOUBLE) - 0.75) / CAST(x.cv AS DOUBLE)
               + (0.75 * CAST(x.fwd AS DOUBLE)) / CAST(x.cv AS DOUBLE)
                 * (CAST(b.bwd AS DOUBLE) / CAST(na.nall AS DOUBLE))),
               12) AS lnp
  FROM types t JOIN ctx x USING (v) JOIN bwd b USING (w) CROSS JOIN na
), terms AS (
  SELECT db.doc_id, db.c,
         {{'t': db.v || ' ' || db.w,
           'x': CAST(db.c AS DOUBLE) * m.lnp}} AS s
  FROM db JOIN model m ON db.v = m.v AND db.w = m.w
), per AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         CAST(count(*) AS BIGINT) AS n_bigram_types,
         list_sort(list(s)) AS arr
  FROM terms GROUP BY 1
)
SELECT doc_id, n_bigrams, n_bigram_types,
       -(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(arr, s -> s.x)), (a, v) -> a + v))
         / CAST(n_bigrams AS DOUBLE) AS kn_cross_entropy
FROM per ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q231 — lagged cross-correlation between two event series
# (operators/timeseries.py:cross_correlation): does 'view' volume lead
# 'purchase' volume?  Daily decimal totals, one lag-exploded calendar
# join, closed-form Pearson per lag.
# ---------------------------------------------------------------------------


def q231_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return timeseries.cross_correlation(
        ev, "view", "purchase", "event_type", "ts", "value", max_lag=7
    )


Q231_SQL = """
WITH daily AS MATERIALIZED (
  SELECT event_type = 'view' AS isa,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         sum(CAST(value AS DECIMAL(18,2))) AS y
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')
  GROUP BY 1, 2
), a AS (SELECT d AS da, y AS x FROM daily WHERE isa),
b AS (SELECT d AS db, y AS yy FROM daily WHERE NOT isa),
al AS (
  SELECT da, x, unnest(range(-7, 8)) AS lag FROM a
), mom AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
         sum(x) AS sx, sum(yy) AS sy,
         sum(x * x) AS sxx, sum(yy * yy) AS syy, sum(x * yy) AS sxy
  FROM al JOIN b ON al.da + al.lag = b.db
  GROUP BY 1
), m AS (
  SELECT CAST(lag AS BIGINT) AS lag, n_days,
         CAST(n_days AS DOUBLE) AS n,
         CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dsx,
         CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dsy,
         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dsxx,
         CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dsyy,
         CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dsxy
  FROM mom WHERE n_days >= 3
)
SELECT lag, n_days,
       CASE WHEN n * dsxx - dsx * dsx > 0 AND n * dsyy - dsy * dsy > 0
            THEN (n * dsxy - dsx * dsy)
                 / (sqrt(n * dsxx - dsx * dsx)
                    * sqrt(n * dsyy - dsy * dsy)) END AS corr
FROM m ORDER BY lag
"""


# ---------------------------------------------------------------------------
# q229 — leave-one-group-out OLS sensitivity
# (operators/stats.py:logo_ols_sensitivity): data-valuation by exact
# Gramian subtraction — every leave-out refit from ONE aggregate, each
# bit-equal to literally refitting without the group.
# ---------------------------------------------------------------------------


def q229_logo_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.logo_ols_sensitivity(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        ["l_quantity", "l_discount"],
        "l_returnflag",
    )


def _logo_oracle_sql() -> str:
    d2 = "DECIMAL(18,2)"
    mom = {
        "gsy": f"sum(CAST(l_extendedprice AS {d2}))",
        "gsyy": f"sum(CAST(l_extendedprice AS {d2})"
                f" * CAST(l_extendedprice AS {d2}))",
        "gs1": f"sum(CAST(l_quantity AS {d2}))",
        "gs2": f"sum(CAST(l_discount AS {d2}))",
        "gs11": f"sum(CAST(l_quantity AS {d2})"
                f" * CAST(l_quantity AS {d2}))",
        "gs22": f"sum(CAST(l_discount AS {d2})"
                f" * CAST(l_discount AS {d2}))",
        "gs12": f"sum(CAST(l_quantity AS {d2})"
                f" * CAST(l_discount AS {d2}))",
        "gs1y": f"sum(CAST(l_quantity AS {d2})"
                f" * CAST(l_extendedprice AS {d2}))",
        "gs2y": f"sum(CAST(l_discount AS {d2})"
                f" * CAST(l_extendedprice AS {d2}))",
    }
    per_cols = ",\n         ".join(f"{e} AS {n}" for n, e in mom.items())
    tot_cols = ",\n         ".join(
        f"sum({n}) AS t{n[1:]}" for n in mom
    )
    names = ["sy", "syy", "s1", "s2", "s11", "s22", "s12", "s1y", "s2y"]
    full_cols = ",\n         ".join(
        f"CAST(CAST(t{m} AS VARCHAR) AS DOUBLE) AS {m}" for m in names
    )
    loo_cols = ",\n         ".join(
        f"CAST(CAST(t{m} - g{m} AS VARCHAR) AS DOUBLE) AS {m}"
        for m in names
    )
    return f"""
WITH per AS MATERIALIZED (
  SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS gn,
         {per_cols}
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_discount IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(gn) AS BIGINT) AS tn,
         {tot_cols}
  FROM per
), fglob AS (
  SELECT CAST(tn AS DOUBLE) AS n,
         {full_cols}
  FROM tot
), f1 AS (SELECT *, {stats.OLS2_DET} AS det FROM fglob),
f2 AS (SELECT {stats.OLS2_B1} AS fb1, {stats.OLS2_B2} AS fb2 FROM f1),
loo AS (
  SELECT g, CAST(tn - gn AS DOUBLE) AS n,
         {loo_cols}
  FROM per, tot
), l1 AS (SELECT *, {stats.OLS2_DET} AS det FROM loo),
l2 AS (SELECT g, n, {stats.OLS2_B1} AS b1, {stats.OLS2_B2} AS b2 FROM l1)
SELECT l2.g AS l_returnflag, CAST(l2.n AS BIGINT) AS n_rows_loo,
       l2.b1 AS b1_loo, l2.b2 AS b2_loo,
       l2.b1 - f2.fb1 AS delta_b1, l2.b2 - f2.fb2 AS delta_b2
FROM l2 CROSS JOIN f2 ORDER BY l_returnflag
"""


Q229_SQL = _logo_oracle_sql()


# ---------------------------------------------------------------------------
# q230 — seasonal-naive forecast backtest (MASE / sMAPE)
# (operators/timeseries.py:forecast_backtest): the scale-free
# forecastability readout per series — MASE < 1 means the weekly
# pattern carries real signal over a one-step naive.
# ---------------------------------------------------------------------------


def q230_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return timeseries.forecast_backtest(ev, "event_type", "ts", "value")


Q230_SQL = """
WITH daily AS MATERIALIZED (
  SELECT event_type AS g, CAST(ts AS DATE) AS d,
         sum(CAST(value AS DECIMAL(18,2))) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), lagged AS (
  SELECT g, y,
         lag(y, 7) OVER (PARTITION BY g ORDER BY d) AS ys,
         lag(y, 1) OVER (PARTITION BY g ORDER BY d) AS y1
  FROM daily
), scored AS (
  SELECT g, abs(y - ys) AS es, abs(y - y1) AS e1,
         CASE WHEN CAST(CAST(abs(ys) AS VARCHAR) AS DOUBLE)
                   + CAST(CAST(abs(y) AS VARCHAR) AS DOUBLE) > 0
              THEN round(2.0 * CAST(CAST(abs(y - ys) AS VARCHAR) AS DOUBLE)
                   / (CAST(CAST(abs(ys) AS VARCHAR) AS DOUBLE)
                      + CAST(CAST(abs(y) AS VARCHAR) AS DOUBLE)), 12)
              ELSE 0.0 END AS sm
  FROM lagged WHERE ys IS NOT NULL
), agg AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_scored,
         sum(es) AS ses, sum(e1) AS se1,
         sum(CAST(sm AS DECIMAL(38,12))) AS ssm
  FROM scored GROUP BY 1
)
SELECT g AS event_type, n_scored,
       CAST(CAST(ses AS VARCHAR) AS DOUBLE) / CAST(n_scored AS DOUBLE)
         AS mae_seasonal,
       CAST(CAST(se1 AS VARCHAR) AS DOUBLE) / CAST(n_scored AS DOUBLE)
         AS mae_naive,
       CASE WHEN CAST(CAST(se1 AS VARCHAR) AS DOUBLE) > 0
            THEN (CAST(CAST(ses AS VARCHAR) AS DOUBLE)
                  / CAST(n_scored AS DOUBLE))
                 / (CAST(CAST(se1 AS VARCHAR) AS DOUBLE)
                    / CAST(n_scored AS DOUBLE)) END AS mase,
       CAST(CAST(ssm AS VARCHAR) AS DOUBLE) / CAST(n_scored AS DOUBLE)
         AS smape
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q228 — exact 1-D Wasserstein distance between two event types
# (operators/hypothesis.py:wasserstein_1d): the distribution-shift
# metric with units, on the distinct-value histogram + two-level
# prefix sums + a range-partitioned global lead (ordered-neighbor
# primitive) — no global single-partition sort.
# ---------------------------------------------------------------------------


def q228_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return hypothesis.wasserstein_1d(
        ev, "value", "event_type", "view", "purchase"
    )


Q228_SQL = """
WITH h AS MATERIALIZED (
  SELECT CAST(value AS DOUBLE) AS v,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')
  GROUP BY 1
), cum AS (
  SELECT v,
         CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS fa,
         CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS fb,
         lead(v) OVER (ORDER BY v) AS nxt
  FROM h
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
  FROM h
), terms AS (
  SELECT tot.n_a, tot.n_b,
         CAST(round(CAST(abs(fa * tot.n_b - fb * tot.n_a) AS DOUBLE)
                    * coalesce(nxt - v, 0.0), 12)
              AS DECIMAL(38,12)) AS term
  FROM cum, tot
)
SELECT n_a, n_b,
       CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE)
         / CAST(n_a * n_b AS DOUBLE) AS wasserstein
FROM terms GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q225 — gap-allowed sequential pair support
# (operators/timeseries.py:sequential_pair_support): "users who did A
# later did B" with any gap — the length-2 PrefixSpan core, computed
# on per-(user, item) time extremes (catalog-sized per user).
# ---------------------------------------------------------------------------


def q225_sequential_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return timeseries.sequential_pair_support(
        ev, "user_id", "ts", "event_type", k=50
    )


Q225_SQL = """
WITH ext AS MATERIALIZED (
  SELECT user_id AS u, event_type AS i, min(ts) AS lo, max(ts) AS hi
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), nu AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n FROM ext),
pairs AS (
  SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS support
  FROM ext a JOIN ext b ON a.u = b.u AND a.i <> b.i AND a.lo < b.hi
  GROUP BY 1, 2
)
SELECT item_a, item_b, support,
       CAST(support AS DOUBLE) / CAST(nu.n AS DOUBLE) AS support_frac
FROM pairs, nu
ORDER BY support DESC, item_a, item_b LIMIT 50
"""


# ---------------------------------------------------------------------------
# q226 — B-cubed clustering agreement
# (operators/evaluation.py:bcubed_clustering_eval): per-item
# precision/recall between the source partition and the lang partition
# of the corpus — the clustering metric one giant cluster cannot
# dominate; decimal-summed 12dp cell terms, order-independent.
# ---------------------------------------------------------------------------


def q226_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pred = docs.select(F.col("doc_id").alias("id"),
                       F.col("source").alias("cluster"))
    gold = docs.select(F.col("doc_id").alias("id"),
                       F.col("lang").alias("truth"))
    return evaluation.bcubed_clustering_eval(pred, gold)


Q226_SQL = """
WITH cells AS MATERIALIZED (
  SELECT source AS c, lang AS g, CAST(count(*) AS BIGINT) AS ncg
  FROM documents GROUP BY 1, 2
), nc AS (SELECT c, CAST(sum(ncg) AS BIGINT) AS nc FROM cells GROUP BY 1),
ng AS (SELECT g, CAST(sum(ncg) AS BIGINT) AS ng FROM cells GROUP BY 1),
terms AS (
  SELECT cells.ncg,
         CAST(round(CAST(cells.ncg * cells.ncg AS DOUBLE)
                    / CAST(nc.nc AS DOUBLE), 12) AS DECIMAL(38,12)) AS tp,
         CAST(round(CAST(cells.ncg * cells.ncg AS DOUBLE)
                    / CAST(ng.ng AS DOUBLE), 12) AS DECIMAL(38,12)) AS tr
  FROM cells JOIN nc USING (c) JOIN ng USING (g)
), agg AS (
  SELECT CAST(sum(ncg) AS BIGINT) AS n_items, sum(tp) AS sp, sum(tr) AS sr
  FROM terms
), pr AS (
  SELECT n_items,
         CAST(CAST(sp AS VARCHAR) AS DOUBLE) / CAST(n_items AS DOUBLE) AS p,
         CAST(CAST(sr AS VARCHAR) AS DOUBLE) / CAST(n_items AS DOUBLE) AS r
  FROM agg
)
SELECT n_items, p AS bcubed_precision, r AS bcubed_recall,
       2.0 * (p * r) / (p + r) AS bcubed_f1
FROM pr
"""


# ---------------------------------------------------------------------------
# q227 — stratified average treatment effect
# (operators/evaluation.py:stratified_ate): direct-adjustment ATE of
# high order priority on order value, stratified by market segment —
# the design-based causal readout with a categorical confounder.
# ---------------------------------------------------------------------------


def q227_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    return evaluation.stratified_ate(
        j,
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        "o_totalprice",
        "c_mktsegment",
    )


Q227_SQL = """
WITH j AS (
  SELECT c_mktsegment AS s,
         o_orderpriority IN ('1-URGENT', '2-HIGH') AS t,
         CAST(o_totalprice AS DOUBLE) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IS NOT NULL AND o_totalprice IS NOT NULL
), per AS MATERIALIZED (
  SELECT s,
         CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         sum(CASE WHEN t THEN CAST(y AS DECIMAL(18,2)) END) AS s1,
         sum(CASE WHEN NOT t THEN CAST(y AS DECIMAL(18,2)) END) AS s0
  FROM j GROUP BY 1
  HAVING n1 > 0 AND n0 > 0
), tot AS (
  SELECT CAST(sum(n1 + n0) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(n1) AS BIGINT) AS n_treated,
         CAST(sum(n0) AS BIGINT) AS n_control
  FROM per
), terms AS (
  SELECT tot.n_strata, tot.n_treated, tot.n_control,
         CAST(round(CAST(n1 + n0 AS DOUBLE) / CAST(tot.nn AS DOUBLE)
           * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(CAST(s0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE)),
           12) AS DECIMAL(38,12)) AS term
  FROM per, tot
)
SELECT n_strata, n_treated, n_control,
       CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) AS ate
FROM terms GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# q224 — blocked Jaro-Winkler name matching
# (operators/fuzzy_join.py:jaro_winkler_pairs): the Census name scorer
# over part names blocked on (brand, size); the oracle replays it with
# DuckDB's built-in jaro_winkler_similarity (verified same variant:
# window walk, transpositions, prefix boost above 0.7).
# ---------------------------------------------------------------------------


def q224_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return fuzzy_join.jaro_winkler_pairs(
        p, "p_partkey", "p_name", ["p_brand", "p_size"], 0.9, 100
    )


Q224_SQL = """
WITH p AS (SELECT p_partkey, p_name, p_brand, p_size FROM part),
pairs AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
         a.p_name AS name_a, b.p_name AS name_b,
         round(jaro_winkler_similarity(a.p_name, b.p_name), 9) AS jw
  FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
                   AND a.p_partkey < b.p_partkey
)
SELECT id_a, id_b, name_a, name_b, jw FROM pairs
WHERE jw >= 0.9 ORDER BY jw DESC, id_a, id_b LIMIT 100
"""


# ---------------------------------------------------------------------------
# q217 — REAL baseline JPEG decode (operators/multimodal.py:
# decode_jpeg_gray): synthesize a valid baseline JPEG per document from
# CHOSEN quantized coefficients (DC = doc_id%201-100, horizontal AC =
# doc_id%7-3, vertical AC = doc_id%5-2, flat quant 16), push it through
# the real marker/Huffman/dequant/IDCT pipeline, aggregate the raster.
# The oracle replays the exact int64 fixed-point IDCT in closed form
# (the 2^-20 basis rows embedded as literals) — a value match proves
# the ENTIRE entropy layer (canonical Huffman, byte stuffing, EXTEND,
# zigzag, dequantize, integer IDCT) reproduced every pixel bit-exactly.
# ---------------------------------------------------------------------------


def _synth_jpeg(
    docs: DataFrame, encode: Callable[..., bytes]
) -> DataFrame:
    """(doc_id, content): deterministic 8×8 JPEG per doc from q217's
    chosen coefficients, through ``encode`` (baseline SOF0 or
    progressive SOF2)."""

    def _jpeg(did):
        blk = [0] * 64
        blk[0] = (did % 201) - 100
        blk[1] = (did % 7) - 3
        blk[8] = (did % 5) - 2
        return encode(8, 8, [blk])

    return _doc_blobs(docs, _jpeg)


def _jpeg_pixel_stats(jpegs: DataFrame) -> DataFrame:
    """q217/q240's per-doc stats of the decoded 8×8 raster."""
    decoded = multimodal.decode_image(jpegs, thumb=8)
    px = F.col("pixels")
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.aggregate(px, F.lit(0).cast("long"), lambda a, v: a + v).alias(
            "px_sum"
        ),
        F.array_min(px).cast("long").alias("px_min"),
        F.array_max(px).cast("long").alias("px_max"),
        F.aggregate(
            F.zip_with(
                px,
                F.sequence(F.lit(0), F.lit(63)),
                lambda v, k: v * (k % 8),
            ),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        ).alias("px_xmoment"),
    )


def q217_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return _jpeg_pixel_stats(
        _synth_jpeg(docs, multimodal.encode_jpeg_gray_coeffs)
    )


def _jpeg_oracle_sql() -> str:
    from occupation_wage_etl_spark.operators.multimodal import (
        jpeg_idct_basis,
    )

    basis = jpeg_idct_basis()
    b1 = ", ".join(str(int(v)) for v in basis[1])
    b8 = ", ".join(str(int(v)) for v in basis[8])
    # basis[0] is the constant 2^20/8 = 131072 row
    return f"""
WITH px AS (
  SELECT doc_id,
         list_transform(range(0, 64), k ->
           least(greatest(
             CAST(floor((
                 ((doc_id % 201) - 100) * 16 * 131072
               + ((doc_id % 7) - 3) * 16 * ([{b1}])[k + 1]
               + ((doc_id % 5) - 2) * 16 * ([{b8}])[k + 1]
               + 524288) / 1048576.0) AS BIGINT) + 128,
             0), 255)) AS pxs
  FROM documents
)
SELECT doc_id, 8 AS width, 8 AS height,
       CAST(list_sum(pxs) AS BIGINT) AS px_sum,
       CAST(list_min(pxs) AS BIGINT) AS px_min,
       CAST(list_max(pxs) AS BIGINT) AS px_max,
       CAST(list_sum(list_transform(range(0, 64),
                                    k -> pxs[k + 1] * (k % 8)))
            AS BIGINT) AS px_xmoment
FROM px
"""


Q217_SQL = _jpeg_oracle_sql()


# ---------------------------------------------------------------------------
# q216 — mergeable quantile sketch, audited vs exact
# (operators/sketch.py:quantile_sketch): the KLL/MRL compactor idea at
# one fixed hash-deterministic level — kept rows are
# md5(key) % 2^6 == 0, estimate = exact interpolated quantile of the
# kept sample (distributed histogram prefix scan), reported side by
# side with the exact full-data quantile (the q159/q160 audit form).
# ---------------------------------------------------------------------------

KQ_BITS = 6
KQ_QUANTILES = {"p10": 0.1, "p50": 0.5, "p90": 0.9, "p99": 0.99}


def q216_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return sketch.quantile_sketch(
        ev,
        F.col("value"),
        F.col("event_id"),
        KQ_QUANTILES,
        level_bits=KQ_BITS,
    )


def _kq_oracle_sql() -> str:
    m = 1 << KQ_BITS
    est_cols = ", ".join(
        f"quantile_cont(v, CAST({p!r} AS DOUBLE)) AS e_{n}"
        for n, p in KQ_QUANTILES.items()
    )
    ex_cols = ", ".join(
        f"quantile_cont(v, CAST({p!r} AS DOUBLE)) AS x_{n}"
        for n, p in KQ_QUANTILES.items()
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT '{n}' AS qname, CAST({p!r} AS DOUBLE) AS q, n_total, "
        f"n_kept, e_{n} AS est_value, x_{n} AS exact_value, "
        f"abs(e_{n} - x_{n}) AS abs_error FROM agg, e, x"
        for n, p in KQ_QUANTILES.items()
    )
    return f"""
WITH r AS MATERIALIZED (
  SELECT CAST(value AS DOUBLE) AS v,
         ('0x' || substr(md5('kq:' || CAST(event_id AS VARCHAR)), 1, 15))
           ::BIGINT % {m} = 0 AS keep
  FROM events WHERE value IS NOT NULL
), kept AS (
  SELECT v FROM r WHERE keep
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM r
), e AS (
  SELECT {est_cols} FROM kept
), x AS (
  SELECT {ex_cols} FROM r
)
{arms}
ORDER BY q
"""


Q216_SQL = _kq_oracle_sql()


# ---------------------------------------------------------------------------
# q232/q233 — ISO-BMFF (MP4) container demux, metadata tier
# (operators/video.py): synthesize a structurally valid MP4 per
# document from doc_id-derived parameters (q217's fixture pattern —
# video track of n = 3 + doc_id%5 samples with deterministic sizes and
# odd-numbered keyframes, plus an mp4a audio track with no stss when
# doc_id%3 == 0), then run the REAL box-tree parser.  q232 checks the
# per-track metadata (brands, timescales, durations, sample/sync
# counts, dimensions); q233 checks the stsc/stco/stsz sample-offset
# math — every keyframe's absolute byte offset — against the oracle's
# closed-form replay of the box-size arithmetic (fixed boxes: ftyp 24,
# mvhd 108, tkhd 92, mdhd 32, hdlr 43, stsd 32, stts 24, stsc 28,
# stco 20; variable: stss 16+4k, stsz 20+4n).
# ---------------------------------------------------------------------------


def _synth_mp4(docs: DataFrame) -> DataFrame:
    """(doc_id, content): deterministic MP4 fixture per doc."""

    def _mp4(did):
        n = 3 + did % 5
        tracks = [
            {
                "handler": "vide",
                "codec": "avc1",
                "timescale": 600,
                "sample_delta": 100,
                "sizes": [20 + ((did + 7 * i) % 13) for i in range(n)],
                "sync": list(range(1, n + 1, 2)),
                "width": 64,
                "height": 48,
            }
        ]
        if did % 3 == 0:
            m = 2 + (did // 3) % 3
            tracks.append(
                {
                    "handler": "soun",
                    "codec": "mp4a",
                    "timescale": 8000,
                    "sample_delta": 1024,
                    "sizes": [10 + ((did + 5 * j) % 7) for j in range(m)],
                    "sync": None,
                }
            )
        return video.encode_mp4_fixture(tracks)

    return _doc_blobs(docs, _mp4)


def q232_mp4_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return video.demux_mp4(_synth_mp4(docs))


Q232_SQL = """
WITH v AS (
  SELECT doc_id, 3 + doc_id % 5 AS n, (3 + doc_id % 5 + 1) // 2 AS kf
  FROM documents
), a AS (
  SELECT doc_id, 2 + (doc_id // 3) % 3 AS m
  FROM documents WHERE doc_id % 3 = 0
), md AS (
  SELECT v.doc_id,
         greatest((v.n * 100 * 1000) // 600,
                  coalesce((a.m * 1024 * 1000) // 8000, 0)) AS movie_duration
  FROM v LEFT JOIN a ON a.doc_id = v.doc_id
)
SELECT v.doc_id, 'isom' AS major_brand,
       CAST(1000 AS BIGINT) AS movie_timescale, md.movie_duration,
       CAST(1 AS BIGINT) AS track_id, 'vide' AS handler, 'avc1' AS codec,
       CAST(600 AS BIGINT) AS timescale,
       CAST(v.n * 100 AS BIGINT) AS duration,
       CAST(v.n AS BIGINT) AS n_samples, CAST(v.kf AS BIGINT) AS n_sync,
       CAST(list_sum(list_transform(range(0, v.n),
            i -> 20 + ((v.doc_id + 7 * i) % 13))) AS BIGINT)
         AS total_sample_bytes,
       CAST(64 AS BIGINT) AS width, CAST(48 AS BIGINT) AS height
FROM v JOIN md ON md.doc_id = v.doc_id
UNION ALL
SELECT a.doc_id, 'isom', CAST(1000 AS BIGINT), md.movie_duration,
       CAST(2 AS BIGINT), 'soun', 'mp4a', CAST(8000 AS BIGINT),
       CAST(a.m * 1024 AS BIGINT), CAST(a.m AS BIGINT),
       CAST(a.m AS BIGINT),
       CAST(list_sum(list_transform(range(0, a.m),
            j -> 10 + ((a.doc_id + 5 * j) % 7))) AS BIGINT),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM a JOIN md ON md.doc_id = a.doc_id
"""


def q233_mp4_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return video.mp4_keyframe_slices(_synth_mp4(docs), max_frames=16).select(
        "doc_id", "track_id", "sample_idx", "byte_offset", "size"
    )


Q233_SQL = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 5 AS n, (3 + doc_id % 5 + 1) // 2 AS kf,
         CASE WHEN doc_id % 3 = 0 THEN 323 + 4 * (2 + (doc_id // 3) % 3)
              ELSE 0 END AS audio_hdr
  FROM documents
), base AS (
  SELECT doc_id, n,
         487 + 4 * kf + 4 * n + audio_hdr AS data_start
  FROM p
), ks AS (
  SELECT doc_id, n, data_start, UNNEST(range(1, n + 1, 2)) AS s
  FROM base
)
SELECT doc_id, CAST(1 AS BIGINT) AS track_id, CAST(s AS BIGINT) AS sample_idx,
       CAST(data_start + coalesce(list_sum(list_transform(range(0, s - 1),
            i -> 20 + ((doc_id + 7 * i) % 13))), 0) AS BIGINT) AS byte_offset,
       CAST(20 + ((doc_id + 7 * (s - 1)) % 13) AS BIGINT) AS size
FROM ks
"""


# ---------------------------------------------------------------------------
# q234 — chroma-aware (color) JPEG decode (operators/multimodal.py:
# decode_jpeg_rgb / jpeg_rgb_stats): per doc a 16×16 4:2:0 YCbCr
# baseline JPEG (4 luma blocks with chosen DCs + one AC, one Cb and one
# Cr DC block), decoded through the real interleaved-MCU entropy walk,
# chroma IDCT, 2×2 sample-replication upsample, and the fixed-point
# JFIF RGB matrix.  The oracle replays the whole chain in closed form:
# quant 16 makes each DC-only plane value exactly 2·dc + 128, the AC
# term reuses q217's embedded IDCT basis row, and the RGB deltas are
# the exact _YCC_* integer literals.  A value match proves chroma
# reconstruction + upsampling + color conversion bit-exact.
# ---------------------------------------------------------------------------


def _synth_jpeg_color(
    docs: DataFrame, encode: Callable[..., bytes]
) -> DataFrame:
    """(doc_id, content): deterministic 16×16 4:2:0 color JPEG per doc
    from q234's chosen coefficients, through ``encode`` (baseline SOF0
    or progressive SOF2)."""

    def _jpeg(did):
        ys = []
        for j in range(4):
            blk = [0] * 64
            blk[0] = ((did + 53 * j) % 201) - 100
            if j == 0:
                blk[1] = (did % 7) - 3
            ys.append(blk)
        cb = [0] * 64
        cb[0] = (did % 41) - 20
        cr = [0] * 64
        cr[0] = (did % 37) - 18
        return encode(16, 16, ys, cb_blocks=[cb], cr_blocks=[cr])

    return _doc_blobs(docs, _jpeg)


def q234_jpeg_rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return multimodal.jpeg_rgb_stats(
        _synth_jpeg_color(docs, multimodal.encode_jpeg_ycbcr420_coeffs)
    )


def _jpeg_rgb_oracle_sql() -> str:
    from occupation_wage_etl_spark.operators.multimodal import (
        _YCC_BU,
        _YCC_GU,
        _YCC_GV,
        _YCC_RV,
        jpeg_idct_basis,
    )

    b1 = ", ".join(str(int(v)) for v in jpeg_idct_basis()[1])
    return f"""
WITH params AS (
  SELECT doc_id, (doc_id % 7) - 3 AS a,
         2 * ((doc_id % 41) - 20) AS cbd,
         2 * ((doc_id % 37) - 18) AS crd
  FROM documents
), deltas AS (
  SELECT doc_id,
         CAST(floor(({_YCC_RV} * crd + 524288) / 1048576.0) AS BIGINT)
           AS dr,
         CAST(floor((-({_YCC_GU} * cbd + {_YCC_GV} * crd) + 524288)
              / 1048576.0) AS BIGINT) AS dg,
         CAST(floor(({_YCC_BU} * cbd + 524288) / 1048576.0) AS BIGINT)
           AS db
  FROM params
), ypix AS (
  SELECT p.doc_id, js.j,
         list_transform(range(0, 64), k ->
           least(greatest(CAST(floor((
               (((p.doc_id + 53 * js.j) % 201) - 100) * 16 * 131072
             + CASE WHEN js.j = 0
                    THEN p.a * 16 * ([{b1}])[k + 1] ELSE 0 END
             + 524288) / 1048576.0) AS BIGINT) + 128, 0), 255)) AS ys
  FROM params p CROSS JOIN (SELECT UNNEST(range(0, 4)) AS j) js
), chan AS (
  SELECT y.doc_id,
         list_transform(y.ys, v -> least(greatest(v + d.dr, 0), 255)) AS rs,
         list_transform(y.ys, v -> least(greatest(v + d.dg, 0), 255)) AS gs,
         list_transform(y.ys, v -> least(greatest(v + d.db, 0), 255)) AS bs
  FROM ypix y JOIN deltas d ON d.doc_id = y.doc_id
)
SELECT doc_id, 16 AS width, 16 AS height,
       CAST(sum(list_sum(rs)) AS BIGINT) AS r_sum,
       CAST(sum(list_sum(gs)) AS BIGINT) AS g_sum,
       CAST(sum(list_sum(bs)) AS BIGINT) AS b_sum,
       CAST(min(list_min(rs)) AS BIGINT) AS r_min,
       CAST(max(list_max(rs)) AS BIGINT) AS r_max,
       CAST(min(list_min(gs)) AS BIGINT) AS g_min,
       CAST(max(list_max(gs)) AS BIGINT) AS g_max,
       CAST(min(list_min(bs)) AS BIGINT) AS b_min,
       CAST(max(list_max(bs)) AS BIGINT) AS b_max
FROM chan GROUP BY doc_id
"""


Q234_SQL = _jpeg_rgb_oracle_sql()


# ---------------------------------------------------------------------------
# q235/q236/q237 — recall audits for the approximate candidate tiers
# (the round-6 verdict's confidence gap): measured recall vs the exact
# tier, the same audited-vs-exact pattern as the sketches (q159 HLL,
# q160 CMS, q216 KLL).  Each exact tier is O(n²) or full-scan BY
# CONTRACT, so the audits run on bounded deterministic samples (id
# caps below) — the approximate tiers themselves are the unbounded
# 100 TB paths.  Measured values at the default parameters are
# recorded in COVERAGE.md.
# ---------------------------------------------------------------------------

AUDIT_EMB_CAP = 500    # vectors in the near-dup audit sample
AUDIT_CUST_CAP = 1000  # customers in the SNB audit sample


def q235_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < AUDIT_EMB_CAP
    )
    return dedup.embedding_near_dup_recall_audit(
        emb, dim=EMB_DIM, threshold=COS_T
    )


Q235_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {AUDIT_EMB_CAP}
), hp AS (
  SELECT p.p, d.d,
         ('0x' || substr(md5('owes:' || p.p || ':' || (d.d - 1)), 1, 8))::BIGINT
           / 4294967295.0 * 2.0 - 1.0 AS w
  FROM range(0, 16) p(p), range(1, 65) d(d)
), dots AS (
  SELECT e.vec_id, h.p, sum(e.embedding[h.d]::DOUBLE * h.w) AS dot
  FROM base e, hp h GROUP BY 1, 2
), sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0
                       THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS s
  FROM dots GROUP BY 1
), banded AS (
  SELECT vec_id AS id, b.band, (s >> (b.band * 4)) & 15 AS key
  FROM sig, (VALUES (0), (1), (2), (3)) b(band)
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.id < r.id
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM base
), truth AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round(
          list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
          / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             * sqrt(list_sum(list_transform(b.v, x -> x * x)))),
        6) >= {COS_T}
)
SELECT CAST({COS_T} AS DOUBLE) AS threshold,
       (SELECT count(*) FROM truth) AS n_true,
       (SELECT count(*) FROM truth t JOIN cand c
          ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_caught,
       (SELECT count(*) FROM cand) AS n_candidates,
       CASE WHEN (SELECT count(*) FROM truth) > 0
            THEN (SELECT count(*) FROM truth t JOIN cand c
                    ON t.id_a = c.id_a AND t.id_b = c.id_b)::DOUBLE
                 / (SELECT count(*) FROM truth)::DOUBLE
       END AS recall
"""


AUDIT_KNN_PANEL = list(range(8))  # query-vector panel for q236


def q236_lsh_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_knn_recall_audit(
        emb, dim=EMB_DIM, query_ids=AUDIT_KNN_PANEL, k=KNN_K
    )


Q236_SQL = f"""
WITH hp AS (
  SELECT p.p, d.d,
         ('0x' || substr(md5('owes:' || p.p || ':' || (d.d - 1)), 1, 8))::BIGINT
           / 4294967295.0 * 2.0 - 1.0 AS w
  FROM range(0, 16) p(p), range(1, 65) d(d)
), dots AS (
  SELECT e.vec_id, h.p, sum(e.embedding[h.d]::DOUBLE * h.w) AS dot
  FROM embeddings e, hp h GROUP BY 1, 2
), sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0
                       THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS s
  FROM dots GROUP BY 1
), qsig AS (
  SELECT vec_id AS qid, s FROM sig
  WHERE vec_id < {len(AUDIT_KNN_PANEL)}
), bandq AS (
  SELECT qid, b.band, (s >> (b.band * 4)) & 15 AS key
  FROM qsig, (VALUES (0), (1), (2), (3)) b(band)
), bandv AS (
  SELECT vec_id AS vid, b.band, (s >> (b.band * 4)) & 15 AS key
  FROM sig, (VALUES (0), (1), (2), (3)) b(band)
), cand AS (
  SELECT DISTINCT q.qid, v.vid
  FROM bandq q JOIN bandv v ON q.band = v.band AND q.key = v.key
  WHERE q.qid <> v.vid
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), scored AS (
  SELECT q.vec_id AS qid, e.vec_id AS vid,
         round(
           list_sum(list_transform(range(1, 65), i -> e.v[i] * q.v[i]))
           / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
              * sqrt(list_sum(list_transform(q.v, x -> x * x)))),
         6) AS cosine
  FROM e, e q
  WHERE q.vec_id < {len(AUDIT_KNN_PANEL)} AND e.vec_id <> q.vec_id
), exact AS (
  SELECT qid, vid FROM (
    SELECT qid, vid,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vid) AS rn
    FROM scored) WHERE rn <= {KNN_K}
), approx AS (
  SELECT qid, vid FROM (
    SELECT s.qid, s.vid,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cosine DESC, s.vid) AS rn
    FROM scored s JOIN cand c ON c.qid = s.qid AND c.vid = s.vid)
  WHERE rn <= {KNN_K}
), hits AS (
  SELECT e2.qid, count(*) AS n_hit
  FROM exact e2 JOIN approx a ON a.qid = e2.qid AND a.vid = e2.vid
  GROUP BY 1
), nx AS (
  SELECT qid, count(*) AS nx FROM exact GROUP BY 1
), nc AS (
  SELECT qid, count(*) AS n_candidates FROM cand GROUP BY 1
)
SELECT nx.qid AS query_id, {KNN_K} AS k,
       coalesce(nc.n_candidates, 0) AS n_candidates,
       coalesce(h.n_hit, 0) AS n_hit,
       coalesce(h.n_hit, 0)::DOUBLE / nx.nx::DOUBLE AS recall
FROM nx LEFT JOIN nc ON nc.qid = nx.qid LEFT JOIN hits h ON h.qid = nx.qid
"""


def q237_snb_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < AUDIT_CUST_CAP
    )
    return fuzzy_join.snb_recall_audit(
        cust, "c_name", "c_custkey", window=5, max_edit=1
    )


Q237_SQL = f"""
WITH c AS (
  SELECT c_custkey AS id, c_name AS k FROM customer
  WHERE c_custkey < {AUDIT_CUST_CAP}
), truth AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM c a JOIN c b ON a.id < b.id AND levenshtein(a.k, b.k) <= 1
), r AS (
  SELECT id, k, row_number() OVER (ORDER BY k, id) - 1 AS rnk FROM c
), cand AS (
  SELECT least(l.id, rr.id) AS id_a, greatest(l.id, rr.id) AS id_b
  FROM r l JOIN r rr ON rr.rnk BETWEEN l.rnk + 1 AND l.rnk + 5
)
SELECT 5 AS window, 1 AS max_edit,
       (SELECT count(*) FROM truth) AS n_true,
       (SELECT count(*) FROM truth t JOIN cand c2
          ON t.id_a = c2.id_a AND t.id_b = c2.id_b) AS n_caught,
       (SELECT count(*) FROM cand) AS n_candidates,
       CASE WHEN (SELECT count(*) FROM truth) > 0
            THEN (SELECT count(*) FROM truth t JOIN cand c2
                    ON t.id_a = c2.id_a AND t.id_b = c2.id_b)::DOUBLE
                 / (SELECT count(*) FROM truth)::DOUBLE
       END AS recall
"""


# ---------------------------------------------------------------------------
# q238 — distributed HTML table parse (sources/html_table.py:
# parse_tables_distributed): the S2 scale path demonstrated against a
# multi-page corpus.  Each document synthesizes an HTML page holding
# 1–2 tables (header row + 2–4 data rows of closed-form cell values);
# the Arrow-batched flat_map parser explodes every <tr> where the
# bytes live — no driver-side parse.  The oracle regenerates the same
# (url, table_idx, row_idx, cells) rows arithmetically, so a value
# match proves the parser's table/row/cell walk (incl. the th-header
# exclusion) over the whole corpus.
# ---------------------------------------------------------------------------


def _synth_html_pages(docs: DataFrame) -> DataFrame:
    """(url, html): deterministic multi-table page per doc."""

    def _make(did):
        parts = ["<html><body>"]
        for t in range(1 + did % 2):
            parts.append(
                "<table><tr><th>ColA</th><th>ColB</th><th>ColC</th></tr>"
            )
            for r in range(2 + (did + t) % 3):
                cells = "".join(
                    f"<td>v{did * 7 + t * 13 + r * 3 + c}</td>"
                    for c in range(3)
                )
                parts.append(f"<tr>{cells}</tr>")
            parts.append("</table>")
        parts.append("</body></html>")
        return [(f"http://fixture/{did}", "".join(parts))]

    return flat_map(docs, ["doc_id"], "url string, html string", _make)


def q238_html_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    rows = html_table.parse_tables_distributed(_synth_html_pages(docs))
    return rows.select(
        "url",
        "table_idx",
        "row_idx",
        F.col("cells")[0].alias("c0"),
        F.col("cells")[1].alias("c1"),
        F.col("cells")[2].alias("c2"),
        F.size("cells").alias("n_cells"),
    )


Q238_SQL = """
WITH p AS (
  SELECT doc_id, 1 + doc_id % 2 AS nt FROM documents
), t AS (
  SELECT doc_id, UNNEST(range(0, nt)) AS ti FROM p
), r AS (
  SELECT doc_id, ti, UNNEST(range(0, 2 + (doc_id + ti) % 3)) AS ri FROM t
)
SELECT 'http://fixture/' || doc_id AS url,
       ti AS table_idx, ri AS row_idx,
       'v' || (doc_id * 7 + ti * 13 + ri * 3 + 0) AS c0,
       'v' || (doc_id * 7 + ti * 13 + ri * 3 + 1) AS c1,
       'v' || (doc_id * 7 + ti * 13 + ri * 3 + 2) AS c2,
       3 AS n_cells
FROM r
"""


# ---------------------------------------------------------------------------
# q239 — token-multiset F1 scoring of candidate pairs
# (operators/text_analysis.py:token_f1_pairs): the SQuAD-style overlap
# F1 as the exact verification score over q20's capped rolling-
# fingerprint candidates — candidate generation stays approximate and
# linear, the F1 is an exact integer-ratio double per pair.
# ---------------------------------------------------------------------------


def q239_token_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = q20_rolling_overlap(spark, sf_dir).select("id_a", "id_b")
    return text_analysis.token_f1_pairs(docs, pairs, "text", "doc_id")


Q239_SQL = f"""
WITH {_edge_cte()}, tok AS (
  SELECT id, unnest(string_split(s, ' ')) AS tok FROM n
  WHERE s IS NOT NULL
), tc AS (
  SELECT id, tok, count(*) AS cnt FROM tok WHERE tok <> '' GROUP BY 1, 2
), nt AS (
  SELECT id, CAST(sum(cnt) AS BIGINT) AS n_tok FROM tc GROUP BY 1
), ov AS (
  SELECT e.a, e.b, CAST(sum(least(x.cnt, y.cnt)) AS BIGINT) AS ov
  FROM e JOIN tc x ON x.id = e.a
         JOIN tc y ON y.id = e.b AND y.tok = x.tok
  GROUP BY 1, 2
)
SELECT e.a AS id_a, e.b AS id_b,
       coalesce(na.n_tok, 0) AS n_a, coalesce(nb.n_tok, 0) AS n_b,
       coalesce(ov.ov, 0) AS overlap,
       CASE WHEN coalesce(na.n_tok, 0) + coalesce(nb.n_tok, 0) > 0
            THEN CAST(2 * coalesce(ov.ov, 0) AS DOUBLE)
                 / CAST(coalesce(na.n_tok, 0) + coalesce(nb.n_tok, 0)
                        AS DOUBLE)
       END AS f1
FROM e LEFT JOIN nt na ON na.id = e.a LEFT JOIN nt nb ON nb.id = e.b
LEFT JOIN ov ON ov.a = e.a AND ov.b = e.b
"""


# ---------------------------------------------------------------------------
# q240 — PROGRESSIVE JPEG decode (operators/multimodal.py:
# _decode_jpeg_progressive / encode_jpeg_progressive_gray_coeffs):
# q217's exact coefficient fixtures re-encoded as SOF2 progressive
# streams (five scans: DC successive approximation first+refine, two
# spectral AC bands, AC refinement — EOB runs, ZRL folding and
# correction bits all exercised), pushed through the multi-scan T.81
# Annex G decoder.  The oracle is q217's closed form VERBATIM: a value
# match proves the progressive entropy layer reconstructs the
# IDENTICAL quantized coefficients the baseline stream carries — the
# stub retired the same way round 6 retired baseline JPEG.
# ---------------------------------------------------------------------------


def q240_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return _jpeg_pixel_stats(
        _synth_jpeg(docs, multimodal.encode_jpeg_progressive_gray_coeffs)
    )


Q240_SQL = Q217_SQL  # identical closed form to q217 — by design


# ---------------------------------------------------------------------------
# q241 — progressive COLOR JPEG (multimodal.py:
# encode_jpeg_progressive_ycbcr420_coeffs): q234's 4:2:0 color fixtures
# re-encoded as SOF2 (interleaved DC first+refine scans with
# per-component predictors, per-component spectral AC scans over the
# component GRID raster), decoded through the progressive path +
# chroma upsample + fixed-point RGB.  Oracle = q234's closed form
# verbatim — a value match proves the multi-component progressive
# entropy layer reconstructs the identical quantized coefficients.
# ---------------------------------------------------------------------------


def q241_jpeg_progressive_rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return multimodal.jpeg_rgb_stats(
        _synth_jpeg_color(
            docs, multimodal.encode_jpeg_progressive_ycbcr420_coeffs
        )
    )


Q241_SQL = Q234_SQL  # q234's closed form — by design


# ---------------------------------------------------------------------------
# q242/q243 — recall at the PRODUCTION operating point via PLANTED
# near-duplicates (dedup.planted_near_dup_recall_audit): the round-7
# audits (q235-q237) measure recall only at the weak similarities the
# random testdata offers; here near-duplicates are PLANTED with exactly
# controlled cosine (0.90/0.95/0.98 — the thresholds the banded tier is
# designed for), so ground truth is by construction and recall is
# measured where the docstrings claim it.  q242 = default parameters
# (16 planes, 4-bit bands); q243 = the multi-probe recall knob
# (1-bit-flip probe expansion).  No O(n²) tier anywhere — this audit
# shape runs at any corpus size.
# ---------------------------------------------------------------------------

PLANT_N = 300      # originals that get a planted near-duplicate
PLANT_BASE = 10_000_000  # planted vec_id offset (disjoint from base ids at any SF)
PLANT_TARGETS = (0.90, 0.95, 0.98)


def q242_planted_near_dup_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.planted_near_dup_recall_audit(
        emb, dim=EMB_DIM, targets=PLANT_TARGETS,
        plant_n=PLANT_N, plant_base=PLANT_BASE,
    )


def q243_planted_near_dup_recall_mp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.planted_near_dup_recall_audit(
        emb, dim=EMB_DIM, targets=PLANT_TARGETS,
        plant_n=PLANT_N, plant_base=PLANT_BASE, multi_probe=True,
    )


def _planted_recall_oracle_sql(multi_probe: bool) -> str:
    # Replays the planting verbatim (sequential left-to-right double
    # sums, md5('plant:i:j') directions, Gram-Schmidt against the unit
    # original) and the production candidate funnel (Q235's hyperplane
    # recipe over the planted∪base union, plus the 1-bit-flip probe
    # expansion when multi_probe).
    probe_cte = """
), probe AS (
  SELECT id, band, key FROM banded
  UNION ALL
  SELECT id, band, xor(key, 1::BIGINT << f.b) AS key
  FROM banded, (VALUES (0), (1), (2), (3)) f(b)"""
    r_src = "probe" if multi_probe else "banded"
    return f"""
WITH orig AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), src AS (
  SELECT vec_id, v FROM orig WHERE vec_id < {PLANT_N}
), nrm AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nx
  FROM src
), uu AS (
  SELECT vec_id, list_transform(v, x -> x / nx) AS u,
         CASE CAST(vec_id % 3 AS INT)
              WHEN 0 THEN 0.90::DOUBLE WHEN 1 THEN 0.95::DOUBLE
              ELSE 0.98::DOUBLE END AS c
  FROM nrm
), wr AS (
  SELECT vec_id, list_transform(range(0, {EMB_DIM}), j ->
           ('0x' || substr(md5('plant:' || vec_id || ':' || j), 1, 8))::BIGINT
             / 4294967295.0 * 2.0 - 1.0) AS w
  FROM src
), pr AS (
  SELECT u.vec_id, u.u, u.c, w.w,
         list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                 i -> w.w[i] * u.u[i])) AS proj
  FROM uu u JOIN wr w ON w.vec_id = u.vec_id
), wpt AS (
  SELECT vec_id, u, c,
         list_transform(range(1, {EMB_DIM + 1}),
                        i -> w[i] - proj * u[i]) AS wp
  FROM pr
), pv AS (
  SELECT vec_id, u, c, wp,
         sqrt(list_sum(list_transform(wp, x -> x * x))) AS nw
  FROM wpt
), planted AS (
  SELECT vec_id + {PLANT_BASE} AS vec_id,
         list_transform(range(1, {EMB_DIM + 1}),
                        i -> c * u[i] + sqrt(1.0 - c * c) * (wp[i] / nw)) AS v
  FROM pv
), allv AS (
  SELECT vec_id, v FROM orig UNION ALL SELECT vec_id, v FROM planted
), hp AS (
  SELECT p.p, d.d,
         ('0x' || substr(md5('owes:' || p.p || ':' || (d.d - 1)), 1, 8))::BIGINT
           / 4294967295.0 * 2.0 - 1.0 AS w
  FROM range(0, 16) p(p), range(1, {EMB_DIM + 1}) d(d)
), dots AS (
  SELECT e.vec_id, h.p, sum(e.v[h.d] * h.w) AS dot
  FROM allv e, hp h GROUP BY 1, 2
), sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0
                       THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS s
  FROM dots GROUP BY 1
), banded AS (
  SELECT vec_id AS id, b.band, (s >> (b.band * 4)) & 15 AS key
  FROM sig, (VALUES (0), (1), (2), (3)) b(band){probe_cte if multi_probe else ''}
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN {r_src} r
    ON l.band = r.band AND l.key = r.key AND l.id < r.id
), truth AS (
  SELECT vec_id AS id_a, vec_id + {PLANT_BASE} AS id_b, c FROM uu
)
SELECT t.c AS target_cos, count(*) AS n_planted,
       count(cd.id_a) AS n_caught,
       count(cd.id_a)::DOUBLE / count(*)::DOUBLE AS recall
FROM truth t LEFT JOIN cand cd ON cd.id_a = t.id_a AND cd.id_b = t.id_b
GROUP BY 1
"""


Q242_SQL = _planted_recall_oracle_sql(multi_probe=False)
Q243_SQL = _planted_recall_oracle_sql(multi_probe=True)


# ---------------------------------------------------------------------------
# q244 — SNB recall at the production operating point (edit distance 1)
# via PLANTED typos (fuzzy_join.planted_edit1_snb_recall_audit): one
# copy per customer with exactly one substituted character at an
# id-cycled position, measured across the operator's two knobs —
# window (rank-gap tolerance) and the multi-pass reversed-key pass
# (Hernández & Stolfo's own fix: a prefix typo teleports the forward
# sort position but not the reversed one).  Measured at sf0.01:
# (5,1)=0.033, (5,2)=0.884, (10,2)=0.926 — the knob progression IS the
# result.
# ---------------------------------------------------------------------------

SNB_PLANT_BASE = 10_000_000


def q244_planted_snb_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < AUDIT_CUST_CAP
    )
    return fuzzy_join.planted_edit1_snb_recall_audit(
        cust, "c_name", "c_custkey", plant_base=SNB_PLANT_BASE
    )


def _planted_snb_oracle_sql() -> str:
    cfg_rows = []
    for window, n_passes in ((5, 1), (5, 2), (10, 2)):
        cand = f"c{window}_{n_passes}"
        cfg_rows.append(f"""
SELECT {window} AS window, {n_passes} AS n_passes,
       (SELECT count(*) FROM truth) AS n_planted,
       (SELECT count(*) FROM truth t JOIN {cand} c2
          ON t.id_a = c2.id_a AND t.id_b = c2.id_b) AS n_caught,
       (SELECT count(*) FROM {cand}) AS n_candidates,
       (SELECT count(*) FROM truth t JOIN {cand} c2
          ON t.id_a = c2.id_a AND t.id_b = c2.id_b)::DOUBLE
         / (SELECT count(*) FROM truth)::DOUBLE AS recall""")
    return f"""
WITH c AS (
  SELECT c_custkey AS id, c_name AS nm FROM customer
  WHERE c_custkey < {AUDIT_CUST_CAP}
), pl AS (
  SELECT id + {SNB_PLANT_BASE} AS id,
         concat(substr(nm, 1, p - 1),
                CASE WHEN r0 = substr(nm, p, 1) THEN 'z' ELSE r0 END,
                substr(nm, p + 1)) AS nm
  FROM (SELECT id, nm,
               CAST(id % length(nm) + 1 AS INT) AS p,
               substr('abcdefghij', CAST(id % 10 AS INT) + 1, 1) AS r0
        FROM c)
), u AS (
  SELECT id, nm FROM c UNION ALL SELECT id, nm FROM pl
), truth AS (
  SELECT id AS id_a, id + {SNB_PLANT_BASE} AS id_b FROM c
), rf AS (
  SELECT id, row_number() OVER (ORDER BY nm, id) AS rnk FROM u
), rr AS (
  SELECT id, row_number() OVER (ORDER BY reverse(nm), id) AS rnk FROM u
), pf AS (
  SELECT least(l.id, r2.id) AS id_a, greatest(l.id, r2.id) AS id_b,
         r2.rnk - l.rnk AS gap
  FROM rf l JOIN rf r2 ON r2.rnk BETWEEN l.rnk + 1 AND l.rnk + 10
), pr2 AS (
  SELECT least(l.id, r2.id) AS id_a, greatest(l.id, r2.id) AS id_b,
         r2.rnk - l.rnk AS gap
  FROM rr l JOIN rr r2 ON r2.rnk BETWEEN l.rnk + 1 AND l.rnk + 10
), c5_1 AS (
  SELECT DISTINCT id_a, id_b FROM pf WHERE gap <= 5
), c5_2 AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT id_a, id_b FROM pf WHERE gap <= 5
    UNION ALL SELECT id_a, id_b FROM pr2 WHERE gap <= 5)
), c10_2 AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT id_a, id_b FROM pf
    UNION ALL SELECT id_a, id_b FROM pr2)
)
{" UNION ALL ".join(cfg_rows)}
"""


Q244_SQL = _planted_snb_oracle_sql()


# ---------------------------------------------------------------------------
# q245 — MinHash-LSH recall at the production operating point (shingle
# Jaccard ≥ 0.8) via PLANTED near-duplicate documents
# (dedup.planted_minhash_recall_audit): every doc gets a prefix-
# truncated copy (id-cycled truncation strength → pairs across the
# 0.9/0.8/0.7 exact-Jaccard bands), ground truth by construction, and
# n_caught counts collisions in the REAL q13 band funnel (identical
# constants).  Float-free banding: 10·|∩| ≥ 9·|∪| integer
# cross-multiplication.
# ---------------------------------------------------------------------------

MH_PLANT_BASE = 10_000_000


def q245_planted_minhash_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.planted_minhash_recall_audit(
        docs,
        plant_base=MH_PLANT_BASE,
        shingle_n=SHINGLE_N,
        num_hashes=MINHASH_N,
        bands=MINHASH_BANDS,
    )


def _planted_minhash_oracle_sql() -> str:
    rpb = MINHASH_N // MINHASH_BANDS
    P = S.MINHASH_P
    perms = S.minhash_perm_params(MINHASH_N)
    slots = ",\n    ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P}))"
        for (a, b) in perms
    )
    band_fields = ", ".join(
        "{'band': %d, %s}"
        % (b, ", ".join(f"'k{r}': sig[{b * rpb + r + 1}]" for r in range(rpb)))
        for b in range(MINHASH_BANDS)
    )
    key_eq = " AND ".join(["l.b.band = r.b.band"] + [
        f"l.b.k{r} = r.b.k{r}" for r in range(rpb)
    ])
    norm = _NORM_SQL.format(x="text")
    return f"""
WITH orig AS (
  SELECT doc_id AS id, text FROM documents
), d0 AS (
  SELECT id, string_split({norm}, ' ') AS toks FROM orig
), pl AS (
  SELECT id + {MH_PLANT_BASE} AS id,
         array_to_string(
           list_slice(toks, 1, len(toks) - ((len(toks) + k - 1) // k)),
           ' ') AS text
  FROM (SELECT id, toks,
               CASE CAST(id % 3 AS INT)
                    WHEN 0 THEN 20 WHEN 1 THEN 10 ELSE 5 END AS k
        FROM d0)
), u AS (
  SELECT id, text FROM orig UNION ALL SELECT id, text FROM pl
), d AS (
  SELECT id, string_split({norm}, ' ') AS toks FROM u
), sh AS (
  SELECT id, list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_N - 1}, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_N - 1}), ' ')
         )) AS shingles
  FROM d
), hsh AS (
  SELECT id, shingles,
         list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 8))::BIGINT % {P}) AS hs
  FROM sh
), sig AS (
  SELECT id, shingles, [
    {slots}
  ] AS sig FROM hsh
), bk AS (
  SELECT id, unnest([{band_fields}]) AS b FROM sig
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM bk l JOIN bk r ON {key_eq} AND l.id < r.id
), truth AS (
  SELECT id AS id_a, id + {MH_PLANT_BASE} AS id_b FROM orig
), tj AS (
  SELECT t.id_a, t.id_b,
         len(list_intersect(a.shingles, b.shingles)) AS ni,
         len(list_distinct(list_concat(a.shingles, b.shingles))) AS nu
  FROM truth t JOIN sh a ON a.id = t.id_a JOIN sh b ON b.id = t.id_b
), tb AS (
  SELECT id_a, id_b,
         CASE WHEN 10 * ni >= 9 * nu THEN 0.9::DOUBLE
              WHEN 10 * ni >= 8 * nu THEN 0.8::DOUBLE
              WHEN 10 * ni >= 7 * nu THEN 0.7::DOUBLE
              ELSE 0.0::DOUBLE END AS j_band
  FROM tj
)
SELECT tb.j_band, count(*) AS n_planted, count(c.id_a) AS n_caught,
       count(c.id_a)::DOUBLE / count(*)::DOUBLE AS recall
FROM tb LEFT JOIN cand c ON c.id_a = tb.id_a AND c.id_b = tb.id_b
GROUP BY 1
"""


Q245_SQL = _planted_minhash_oracle_sql()


# ---------------------------------------------------------------------------
# q246 — H.264 SPS parameter-set parse out of avcC (operators/video.py:
# mp4_sps_params / encode_sps / decode_sps): coded geometry from the
# BITSTREAM (Exp-Golomb seq_parameter_set_rbsp incl. the High-profile
# chroma/bit-depth branch, frame cropping, emulation prevention)
# rather than the container's advisory dims — the fixture plants
# closed-form SPS fields per doc (advisory stsd dims deliberately
# DIFFER from the coded dims to prove provenance), and the oracle
# replays the closed forms arithmetically (q232's pattern): a value
# match proves the Exp-Golomb layer reconstructs the planted integers.
# ---------------------------------------------------------------------------


def _synth_mp4_sps(docs: DataFrame) -> DataFrame:
    """(doc_id, content): avc1 fixture with doc-chosen SPS per doc."""

    def _mp4(did):
        sps = dict(
            profile_idc=[66, 77, 100][did % 3],
            level_idc=10 * (1 + did % 5),
            width_mbs=2 + did % 9,
            height_units=2 + did % 7,
            crop=(0, did % 2, 0, 1 if did % 3 == 0 else 0),
            max_num_ref_frames=1 + did % 4,
            log2_max_frame_num=4 + did % 3,
            pic_order_cnt_type=0 if did % 2 == 0 else 2,
        )
        track = {
            "handler": "vide",
            "codec": "avc1",
            "timescale": 600,
            "sample_delta": 100,
            "sizes": [20 + did % 11],
            "sync": [1],
            "width": 32,
            "height": 24,
            "sps": sps,
        }
        return video.encode_mp4_fixture([track])

    return _doc_blobs(docs, _mp4)


def q246_mp4_sps_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return video.mp4_sps_params(_synth_mp4_sps(docs))


Q246_SQL = """
SELECT doc_id, CAST(1 AS BIGINT) AS track_id, 'avc1' AS codec,
       CAST(32 AS INT) AS entry_width, CAST(24 AS INT) AS entry_height,
       CAST(CASE CAST(doc_id % 3 AS INT)
                 WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END AS INT)
         AS profile_idc,
       CAST(0 AS INT) AS constraint_flags,
       CAST(10 * (1 + doc_id % 5) AS INT) AS level_idc,
       CAST(1 AS INT) AS chroma_format_idc,
       CAST(8 AS INT) AS bit_depth_luma,
       CAST(16 * (2 + doc_id % 9) - 2 * (doc_id % 2) AS INT) AS coded_width,
       CAST(16 * (2 + doc_id % 7)
            - CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END AS INT)
         AS coded_height,
       CAST(1 AS INT) AS frame_mbs_only,
       CAST(1 + doc_id % 4 AS INT) AS max_num_ref_frames,
       CAST(4 + doc_id % 3 AS INT) AS log2_max_frame_num,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 2 END AS INT)
         AS pic_order_cnt_type
FROM documents
"""


# ---------------------------------------------------------------------------
# q249 — FLAC STREAMINFO parse (operators/audio.py:flac_streaminfo /
# parse_flac_streaminfo): sample rate (20-bit field), channels, bit
# depth, 36-bit total-sample count, block/frame-size bounds and the
# unencoded-audio MD5 out of the mandatory first metadata block
# (RFC 9639 §8.2), plus the metadata block walk (optional PADDING
# block exercises the chain).  Closed-form fixture fields; the MD5
# field is planted as md5(doc_id) so the oracle recomputes it.
# ---------------------------------------------------------------------------


def _synth_flac(docs: DataFrame) -> DataFrame:
    import hashlib

    def _flac(did):
        return audio.encode_flac_fixture(
            sample_rate=[44100, 48000, 96000, 22050][did % 4],
            channels=1 + did % 2,
            bits_per_sample=16 if did % 2 == 0 else 24,
            total_samples=44100 + did * 7,
            min_frame=1000 + did % 50,
            max_frame=5000 + did % 100,
            md5=hashlib.md5(str(did).encode()).digest(),
            padding=(did % 32) if did % 3 == 0 else None,
        )

    return _doc_blobs(docs, _flac)


def q249_flac_streaminfo(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return audio.flac_streaminfo(_synth_flac(docs))


Q249_SQL = """
SELECT doc_id,
       CAST(([44100, 48000, 96000, 22050])[CAST(doc_id % 4 AS INT) + 1]
            AS INT) AS sample_rate,
       CAST(1 + doc_id % 2 AS INT) AS channels,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 24 END AS INT)
         AS bits_per_sample,
       CAST(44100 + doc_id * 7 AS BIGINT) AS total_samples,
       CAST((44100 + doc_id * 7) * 1000
            // ([44100, 48000, 96000, 22050])[CAST(doc_id % 4 AS INT) + 1]
            AS BIGINT) AS duration_ms,
       CAST(4096 AS INT) AS min_block_size,
       CAST(4096 AS INT) AS max_block_size,
       CAST(1000 + doc_id % 50 AS INT) AS min_frame_size,
       CAST(5000 + doc_id % 100 AS INT) AS max_frame_size,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT)
         AS n_metadata_blocks,
       md5(CAST(doc_id AS VARCHAR)) AS md5_hex
FROM documents
"""


# ---------------------------------------------------------------------------
# q250 — ID3v2.3 text-frame extraction (operators/audio.py:id3_tags /
# parse_id3v2_frames): TIT2/TPE1/TALB/TRCK text frames (ISO-8859-1
# encoding byte, non-syncsafe v2.3 frame sizes, padding stop) pulled
# into typed columns — tag metadata as data, the audio counterpart of
# the HTML-table and MP4-demux extractors.  Every doc plants
# closed-form strings; did % 5 == 0 drops TALB to exercise the NULL
# path.
# ---------------------------------------------------------------------------


def _synth_id3(docs: DataFrame) -> DataFrame:
    def _id3(did):
        frames = {
            "TIT2": f"title {did}",
            "TPE1": f"artist {did % 7}",
            "TRCK": str(1 + did % 20),
        }
        if did % 5 != 0:
            frames["TALB"] = f"album {did % 13}"
        return audio.encode_id3v2_fixture(frames, padding=did % 11)

    return _doc_blobs(docs, _id3)


def q250_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return audio.id3_tags(_synth_id3(docs))


Q250_SQL = """
SELECT doc_id,
       'title ' || doc_id AS title,
       'artist ' || (doc_id % 7) AS artist,
       CASE WHEN doc_id % 5 = 0 THEN NULL
            ELSE 'album ' || (doc_id % 13) END AS album,
       CAST(1 + doc_id % 20 AS VARCHAR) AS track,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 4 END AS INT) AS n_frames
FROM documents
"""


# ---------------------------------------------------------------------------
# q251/q252 — H.264 IDR keyframe PIXEL decode (operators/h264.py):
# the frame-decode stub RETIRED for intra pictures.  Per document a
# conformant single-keyframe MP4 is synthesized from CHOSEN quantized
# coefficient levels (q217's pattern at the slice layer), then the
# full player path runs: box-tree demux → stsc/stco/stsz offsets →
# avcC SPS/PPS → CAVLC entropy decode → dequant → Hadamard/core
# inverse transforms → intra prediction → pixel stats.
#
# q251 exercises the coefficient path on a single Intra_16x16 DC-mode
# MB: luma DC levels at Hadamard scan 0/1 (column-sign structure
# s_j = +1,+1,-1,-1), one luma AC level at zigzag pos 1 (raster
# (0,1): the row-0-only plant keeps the §8.5.12 core transform's
# >>1 folds exact in closed form), chroma DC on both components.
# The oracle replays the exact integer arithmetic: qp 28 → luma DC
# scale f*16<<2 = f*64, AC class-2 scale 20<<4 = 320, chroma
# qPc 28 → (f*16<<4)>>1 = f*128; pixel = clip(128 + (d+32)>>6).
#
# q252 exercises prediction chaining + I_PCM on a 2×2 MB frame:
# MB0 DC-mode flat (residual L exactly = +L since (64L+32)>>6 = L),
# MB1 Horizontal-predicts from MB0's right edge, MB2
# Vertical-predicts from MB0's bottom edge, MB3 is I_PCM with planted
# raster bytes (decoded samples ARE the planted bytes, per §8.3.5).
# ---------------------------------------------------------------------------


def _synth_h264_coeffs(docs: DataFrame) -> DataFrame:
    """(doc_id, content): single-MB IDR MP4 from chosen levels."""

    def _mp4(did):
        mb = {
            "mode": 2,
            "luma_dc": {0: did % 39 - 19, 1: did % 11 - 5},
            "luma_ac": {0: {0: did % 9 - 4}},
            "cb_dc": {0: did % 21 - 10},
            "cr_dc": {0: did % 17 - 8},
        }
        return h264.encode_avc_mp4_fixture(1, 1, [mb], qp=28)

    return _doc_blobs(docs, _mp4)


def q251_h264_idr_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return h264.decode_avc_keyframes(_synth_h264_coeffs(docs))


Q251_SQL = """
WITH p AS (
  SELECT doc_id,
         doc_id % 39 - 19 AS l0, doc_id % 11 - 5 AS l1,
         (doc_id % 9 - 4) * 320 AS a,
         doc_id % 21 - 10 AS k, doc_id % 17 - 8 AS m
  FROM documents
), v AS (
  SELECT doc_id, a, 64 * (l0 + l1) AS dc0,
         list_transform([1, 1, -1, -1], s ->
           least(greatest(128 + CAST(floor((64 * (l0 + l1 * s) + 32)
                 / 64.0) AS BIGINT), 0), 255)) AS vf,
         least(greatest(128 + CAST(floor((128 * k + 32) / 64.0)
               AS BIGINT), 0), 255) AS cbv,
         least(greatest(128 + CAST(floor((128 * m + 32) / 64.0)
               AS BIGINT), 0), 255) AS crv
  FROM p
), w AS (
  SELECT doc_id, vf, cbv, crv,
         list_transform([a, a // 2, -(a // 2), -a], t ->
           least(greatest(128 + CAST(floor((dc0 + t + 32) / 64.0)
                 AS BIGINT), 0), 255)) AS vals
  FROM v
)
SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
       CAST(1 AS BIGINT) AS sample_idx,
       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(1 AS INT) AS n_mb, CAST(0 AS INT) AS n_pcm,
       CAST(1 AS INT) AS n_slices,
       CAST(64 * list_sum(vf) - 16 * vf[1] + 4 * list_sum(vals)
            AS BIGINT) AS y_sum,
       CAST(least(list_min(vf), list_min(vals)) AS INT) AS y_min,
       CAST(greatest(list_max(vf), list_max(vals)) AS INT) AS y_max,
       CAST(64 * cbv AS BIGINT) AS cb_sum,
       CAST(64 * crv AS BIGINT) AS cr_sum
FROM w
"""


def _synth_h264_chain(docs: DataFrame, groups: int = 0) -> DataFrame:
    """(doc_id, content): 2x2-MB IDR MP4 — pred chain + I_PCM — keyed
    on doc_id, or on doc_id % ``groups`` when set (every doc of one
    group then carries a byte-identical stream)."""

    def _mp4(did):
        g = did % groups if groups else did
        mbs = [
            {"mode": 2, "luma_dc": {0: 7 + g % 5}},
            {"mode": 1, "chroma_mode": 1, "luma_dc": {0: g % 7 - 3}},
            {"mode": 0, "chroma_mode": 2, "luma_dc": {0: g % 9 - 4}},
            {
                "pcm": {
                    "y": [(g * 7 + 13 * j) % 256 for j in range(256)],
                    "cb": [(g * 5 + 11 * j) % 256 for j in range(64)],
                    "cr": [(g * 3 + 17 * j) % 256 for j in range(64)],
                }
            },
        ]
        return h264.encode_avc_mp4_fixture(2, 2, mbs, qp=28)

    return _doc_blobs(docs, _mp4)


def q252_h264_pred_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return h264.decode_avc_keyframes(_synth_h264_chain(docs))


Q252_SQL = """
WITH p AS (
  SELECT doc_id, 135 + doc_id % 5 AS v0,
         doc_id % 7 - 3 AS l1, doc_id % 9 - 4 AS l2
  FROM documents
), s AS (
  SELECT doc_id, v0, v0 + l1 AS v1, v0 + l2 AS v2,
         list_transform(range(0, 256),
                        j -> (doc_id * 7 + 13 * j) % 256) AS py,
         list_transform(range(0, 64),
                        j -> (doc_id * 5 + 11 * j) % 256) AS pcb,
         list_transform(range(0, 64),
                        j -> (doc_id * 3 + 17 * j) % 256) AS pcr
  FROM p
)
SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
       CAST(1 AS BIGINT) AS sample_idx,
       CAST(32 AS INT) AS width, CAST(32 AS INT) AS height,
       CAST(4 AS INT) AS n_mb, CAST(1 AS INT) AS n_pcm,
       CAST(1 AS INT) AS n_slices,
       CAST(256 * (v0 + v1 + v2) + list_sum(py) AS BIGINT) AS y_sum,
       CAST(least(v0, v1, v2, list_min(py)) AS INT) AS y_min,
       CAST(greatest(v0, v1, v2, list_max(py)) AS INT) AS y_max,
       CAST(192 * 128 + list_sum(pcb) AS BIGINT) AS cb_sum,
       CAST(192 * 128 + list_sum(pcr) AS BIGINT) AS cr_sum
FROM s
"""


# ---------------------------------------------------------------------------
# q253 — Intra_4x4 (I_NxN) macroblocks (operators/h264.py round-8b):
# the per-block spatial-prediction MB type real encoders emit most for
# detail regions.  Every 4x4 block plants c00 = L (qp 28 → class-0
# dequant 256L → flat residual exactly 4L); the mode layout (DC down
# the left column, Horizontal across the top row, Vertical elsewhere)
# chains each block's prediction off the previous block's
# reconstruction, so the closed form is V[r][c] = 128 + 4L*(r+c+1)
# per 4x4 block — one wrong neighbor, one wrong Table 9-4 CBP bit or
# one wrong prev_intra4x4_pred_mode derivation shifts every
# downstream block.  L ∈ [-4, 4] keeps all values unclipped.  Chroma
# plants the q251 closed form.  Exercises: mb_type 0 syntax,
# prev/rem mode prediction (the H blocks encode rem codes), me(v)
# CBP, per-8x8-group residual gating (L=0 docs drop cbp_luma to 0 —
# chroma-only CBP), block-serial reconstruction.
# ---------------------------------------------------------------------------


def _synth_h264_i4x4(docs: DataFrame) -> DataFrame:
    """(doc_id, content): single-MB I_4x4 IDR MP4 from chosen levels."""
    modes = []
    for b in range(16):
        x, y = h264._BLK_OFF[b]
        c, r = x >> 2, y >> 2
        modes.append(2 if c == 0 else (1 if r == 0 else 0))

    def _mp4(did):
        lvl = did % 9 - 4
        mb = {
            "i4x4": {
                "modes": modes,
                "luma": {b: {0: lvl} for b in range(16)},
            },
            "cb_dc": {0: did % 21 - 10},
            "cr_dc": {0: did % 17 - 8},
        }
        return h264.encode_avc_mp4_fixture(1, 1, [mb], qp=28)

    return _doc_blobs(docs, _mp4)


def q253_h264_i4x4(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return h264.decode_avc_keyframes(_synth_h264_i4x4(docs))


Q253_SQL = """
WITH p AS (
  SELECT doc_id, doc_id % 9 - 4 AS l,
         doc_id % 21 - 10 AS k, doc_id % 17 - 8 AS m
  FROM documents
), s AS (
  SELECT doc_id, l,
         least(greatest(128 + CAST(floor((128 * k + 32) / 64.0)
               AS BIGINT), 0), 255) AS cbv,
         least(greatest(128 + CAST(floor((128 * m + 32) / 64.0)
               AS BIGINT), 0), 255) AS crv
  FROM p
)
SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
       CAST(1 AS BIGINT) AS sample_idx,
       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(1 AS INT) AS n_mb, CAST(0 AS INT) AS n_pcm,
       CAST(1 AS INT) AS n_slices,
       -- sum over the 4x4 block grid of 16 px * (128 + 4L(r+c+1)):
       -- sum(r+c+1) over the grid = 64
       CAST(16 * 16 * 128 + 16 * 4 * l * 64 AS BIGINT) AS y_sum,
       CAST(least(128 + 4 * l, 128 + 28 * l) AS INT) AS y_min,
       CAST(greatest(128 + 4 * l, 128 + 28 * l) AS INT) AS y_max,
       CAST(64 * cbv AS BIGINT) AS cb_sum,
       CAST(64 * crv AS BIGINT) AS cr_sum
FROM s
"""


# ---------------------------------------------------------------------------
# q254 — SPS VUI catalog facts (operators/video.py:mp4_vui_params /
# _decode_vui): frame rate as an exact rational (time_scale /
# 2*num_units_in_tick), sample aspect ratio (Table E-1 idc + the
# Extended_SAR escape), signal range and colour primaries — the
# bitstream-authoritative video facts after dimensions (q246).
# Fixtures plant every presence combination (no-VUI, sar-only,
# timing-only, signal-with/without colour description), so the NULL
# columns are data, not parse failures.
# ---------------------------------------------------------------------------


def _synth_mp4_vui(docs: DataFrame) -> DataFrame:
    def _mp4(did):
        vui: dict = {}
        m4, m3, m5 = did % 4, did % 3, did % 5
        if m4 == 0:
            vui["sar"] = (1 + did % 50, 1 + did % 30)
        elif m4 != 2:
            vui["sar"] = 1 + did % 16
        if m3 != 2:
            vui["num_units_in_tick"] = 1000 + did % 7
            vui["time_scale"] = 24000 + 1000 * (did % 5)
            vui["fixed_frame_rate"] = did % 2
        if m5 <= 3:
            vui["video_full_range"] = did % 2
        if m5 <= 1:
            vui["colour_primaries"] = 1 + did % 9
        return video.encode_mp4_fixture(
            [
                {
                    "handler": "vide",
                    "codec": "avc1",
                    "timescale": 600,
                    "sample_delta": 100,
                    "sizes": [8],
                    "sync": [1],
                    "width": 64,
                    "height": 48,
                    "sps": {
                        "width_mbs": 4,
                        "height_units": 3,
                        "vui": vui or None,
                    },
                }
            ]
        )

    return _doc_blobs(docs, _mp4)


def q254_mp4_vui(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return video.mp4_vui_params(_synth_mp4_vui(docs))


Q254_SQL = """
WITH p AS (
  SELECT doc_id, doc_id % 4 AS m4, doc_id % 3 AS m3, doc_id % 5 AS m5
  FROM documents
)
SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
       CAST(CASE WHEN m4 = 0 THEN 1 + doc_id % 50
                 WHEN m4 = 2 THEN NULL
                 ELSE ([1,12,10,16,40,24,20,32,80,18,15,64,160,4,3,2]
                      )[1 + doc_id % 16] END AS INT) AS sar_width,
       CAST(CASE WHEN m4 = 0 THEN 1 + doc_id % 30
                 WHEN m4 = 2 THEN NULL
                 ELSE ([1,11,11,11,33,11,11,11,33,11,11,33,99,3,2,1]
                      )[1 + doc_id % 16] END AS INT) AS sar_height,
       CAST(CASE WHEN m5 <= 3 THEN doc_id % 2 END AS INT)
         AS video_full_range,
       CAST(CASE WHEN m5 <= 1 THEN 1 + doc_id % 9 END AS INT)
         AS colour_primaries,
       CAST(CASE WHEN m3 <> 2 THEN 24000 + 1000 * (doc_id % 5) END
            AS BIGINT) AS fps_num,
       CAST(CASE WHEN m3 <> 2 THEN 2 * (1000 + doc_id % 7) END
            AS BIGINT) AS fps_den,
       CAST(CASE WHEN m3 <> 2 THEN doc_id % 2 END AS INT)
         AS fixed_frame_rate
FROM p
"""


# ---------------------------------------------------------------------------
# q255 — MULTI-SLICE IDR pictures (h264.decode_idr_picture): real
# encoders partition each picture into slice NALs (threading,
# packetization), and §6.4.11/§9.2.1 make prediction and CAVLC
# contexts SLICE-BOUNDED.  The fixture splits a 2×2-MB picture into
# two 2-MB slices: MB2 opens slice 1, so although MB0 sits directly
# above it, its DC prediction must restart from 128 — a decoder that
# ignores slice boundaries reconstructs 146-series values instead of
# the 128-series and every hash diverges.  QPy also restarts per
# slice (§7.4.3).  Closed form: v0 = 128+L0, v1 = v0+L1 (H pred),
# v2 = 128+L2 (slice restart), v3 = v2+L3.
# ---------------------------------------------------------------------------


def _synth_h264_slices(docs: DataFrame) -> DataFrame:
    def _mp4(did):
        mbs = [
            {"mode": 2, "luma_dc": {0: 7 + did % 5}},
            {"mode": 1, "chroma_mode": 1, "luma_dc": {0: did % 7 - 3}},
            {"mode": 2, "luma_dc": {0: did % 9 - 4}},
            {"mode": 1, "chroma_mode": 1, "luma_dc": {0: did % 11 - 5}},
        ]
        sample, sps_nal, pps_nal = h264.encode_idr_access_unit(
            2, 2, mbs, qp=28, slices=[2, 2]
        )
        return video.encode_mp4_fixture(
            [
                {
                    "handler": "vide",
                    "codec": "avc1",
                    "timescale": 12800,
                    "sample_delta": 512,
                    "sizes": [len(sample)],
                    "sync": [1],
                    "width": 32,
                    "height": 32,
                    "sps": sps_nal,
                    "pps_nal": pps_nal,
                    "payloads": [sample],
                }
            ]
        )

    return _doc_blobs(docs, _mp4)


def q255_h264_multislice(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return h264.decode_avc_keyframes(_synth_h264_slices(docs))


Q255_SQL = """
WITH p AS (
  SELECT doc_id,
         135 + doc_id % 5 AS v0,
         doc_id % 7 - 3 AS l1,
         128 + doc_id % 9 - 4 AS v2,
         doc_id % 11 - 5 AS l3
  FROM documents
), s AS (
  SELECT doc_id, v0, v0 + l1 AS v1, v2, v2 + l3 AS v3 FROM p
)
SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
       CAST(1 AS BIGINT) AS sample_idx,
       CAST(32 AS INT) AS width, CAST(32 AS INT) AS height,
       CAST(4 AS INT) AS n_mb, CAST(0 AS INT) AS n_pcm,
       CAST(2 AS INT) AS n_slices,
       CAST(256 * (v0 + v1 + v2 + v3) AS BIGINT) AS y_sum,
       CAST(least(v0, v1, v2, v3) AS INT) AS y_min,
       CAST(greatest(v0, v1, v2, v3) AS INT) AS y_max,
       CAST(4 * 64 * 128 AS BIGINT) AS cb_sum,
       CAST(4 * 64 * 128 AS BIGINT) AS cr_sum
FROM s
"""


# ---------------------------------------------------------------------------
# q256 — keyframe EXACT-DUP groups over DECODED pixels
# (h264.keyframe_luma_thumbs): the codec→curation bridge — MP4 demux →
# IDR intra decode → 8×8 luma thumbnail → group-by-raster exact dedup,
# i.e. the q12 pattern running on pixels the engine itself decoded.
# Fixtures are q252's pred-chain streams keyed on g = doc_id % 37 (docs
# sharing g byte-identical; distinct g provably distinct: the flat
# values separate g mod lcm(5,7,9)=315 and the I_PCM bytes mod 256,
# both > 37), so the oracle replays the grouping arithmetically
# without touching pixels.
# ---------------------------------------------------------------------------


def q256_keyframe_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    thumbs = h264.keyframe_luma_thumbs(_synth_h264_chain(docs, groups=37))
    return (
        thumbs.groupBy("pixels")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("rep_doc_id", "n_dups")
    )


Q256_SQL = """
SELECT min(doc_id) AS rep_doc_id, count(*) AS n_dups
FROM documents GROUP BY doc_id % 37
"""


# ---------------------------------------------------------------------------
# q257/q258 — PDF text extraction (sources/pdf.py): the dominant messy
# SOURCE format of real training corpora.  Fixtures are VALID PDFs
# (catalog → pages tree → content streams, correct xref) with planted
# page texts; the parse path is real: object grammar → Pages-tree walk
# → /Contents resolution → FlateDecode inflate → text-operator
# execution (Tj / TJ kerned arrays / Td line breaks, literal-string
# escape grammar incl. the planted parens).  q257 checks per-page text
# verbatim against the closed-form plant; q258 bridges into the
# curation tier — extracted pages grouped by exact text (the q12/q256
# dedup pattern over text the ENGINE extracted), fixtures keyed on
# doc_id % 23.
# ---------------------------------------------------------------------------


def _synth_pdf(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import pdf as pdfmod

    def _pdf(did):
        pages = [
            [
                f"doc {did} pg {p + 1} ln {k} (ok)"
                for k in range(1 + (did + p) % 4)
            ]
            for p in range(1 + did % 3)
        ]
        return pdfmod.encode_pdf_fixture(
            pages,
            # rotate stream filters: plain / Flate / LZW / ASCII85 /
            # ASCIIHex — every decode path runs under the oracle gate
            # (text is filter-invariant); doc_id%3==0 docs use the PDF
            # 1.5 ObjStm + XRef-stream layout
            compress_page=lambda p: (
                [None, "flate", "lzw", "a85", "ahx"][(did + p) % 5]
            ),
            use_tj_array_every=2,
            use_objstm=(did % 3 == 0),
        )

    return _doc_blobs(docs, _pdf)


def q257_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import pdf as pdfmod

    docs = _t(spark, sf_dir, "documents")
    return pdfmod.pdf_text(_synth_pdf(docs))


Q257_SQL = """
WITH pg AS (
  SELECT doc_id, UNNEST(range(1, 2 + doc_id % 3)) AS page
  FROM documents
), t AS (
  SELECT doc_id, page,
         array_to_string(
           list_transform(range(0, 1 + (doc_id + page - 1) % 4),
             l -> 'doc ' || doc_id || ' pg ' || page || ' ln ' || l
                  || ' (ok)'),
           chr(10)) AS text
  FROM pg
)
SELECT doc_id, CAST(page AS INT) AS page,
       CAST(length(text) AS INT) AS n_chars, text
FROM t
"""


def _synth_pdf_groups(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import pdf as pdfmod

    def _pdf(did):
        g = did % 23
        pages = [
            [f"group {g} page {p} line {k}" for k in range(3)]
            for p in range(1 + g % 2)
        ]
        return pdfmod.encode_pdf_fixture(pages, compress_page=lambda p: p == 0)

    return _doc_blobs(docs, _pdf)


def q258_pdf_dup_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import pdf as pdfmod

    docs = _t(spark, sf_dir, "documents")
    pages = pdfmod.pdf_text(_synth_pdf_groups(docs))
    return (
        pages.groupBy("text")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("rep_doc_id", "n_dups")
    )


Q258_SQL = """
WITH p AS (
  SELECT doc_id, doc_id % 23 AS g FROM documents
), e AS (
  SELECT doc_id, g, UNNEST(range(1, 2 + g % 2)) AS pg FROM p
)
SELECT min(doc_id) AS rep_doc_id, count(*) AS n_dups
FROM e GROUP BY g, pg
"""


# ---------------------------------------------------------------------------
# q259 — DOCX text extraction (sources/docx.py): WordprocessingML
# paragraphs through the real zip + XML parse — multi-run splits
# reassembled, XML escapes (&, <, >) round-tripped, tabs mapped from
# <w:tab/>.  Fixture run counts rotate 1..4 per doc so the
# run-reassembly path is oracle-gated, not just unit-tested.
# ---------------------------------------------------------------------------


def _synth_docx(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import docx as docxmod

    def _docx(did):
        paras = [
            f"doc {did} para {k}\tA&B <x{(did + k) % 7}>"
            for k in range(2 + did % 3)
        ]
        return docxmod.encode_docx_fixture(
            paras, runs_per_paragraph=1 + did % 4
        )

    return _doc_blobs(docs, _docx)


def q259_docx_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import docx as docxmod

    docs = _t(spark, sf_dir, "documents")
    return docxmod.docx_text(_synth_docx(docs))


Q259_SQL = """
WITH p AS (
  SELECT doc_id, UNNEST(range(1, 3 + doc_id % 3)) AS para
  FROM documents
), t AS (
  SELECT doc_id, para,
         'doc ' || doc_id || ' para ' || (para - 1) || chr(9)
           || 'A&B <x' || ((doc_id + para - 1) % 7) || '>' AS text
  FROM p
)
SELECT doc_id, CAST(para AS INT) AS para,
       CAST(length(text) AS INT) AS n_chars, text
FROM t
"""


# ---------------------------------------------------------------------------
# q248 — multi-pass sorted-neighborhood blocking as a production
# candidate generator (fuzzy_join.multipass_snb_pairs): forward +
# reversed-key passes over the full customer table, union + distinct —
# the Hernández-Stolfo multi-pass operator q244 measures, exposed as a
# first-class query (recall 0.884 vs 0.033 single-pass at window 5,
# per the q244 planted audit).
# ---------------------------------------------------------------------------


def q248_multipass_snb(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return fuzzy_join.multipass_snb_pairs(
        cust,
        [F.col("c_name"), F.reverse(F.col("c_name"))],
        "c_custkey",
        window=5,
    )


Q248_SQL = """
WITH c AS (
  SELECT c_custkey AS id, c_name AS nm FROM customer
), rf AS (
  SELECT id, row_number() OVER (ORDER BY nm, id) AS rnk FROM c
), rr AS (
  SELECT id, row_number() OVER (ORDER BY reverse(nm), id) AS rnk FROM c
), pf AS (
  SELECT least(l.id, r2.id) AS id_a, greatest(l.id, r2.id) AS id_b
  FROM rf l JOIN rf r2 ON r2.rnk BETWEEN l.rnk + 1 AND l.rnk + 5
), pr2 AS (
  SELECT least(l.id, r2.id) AS id_a, greatest(l.id, r2.id) AS id_b
  FROM rr l JOIN rr r2 ON r2.rnk BETWEEN l.rnk + 1 AND l.rnk + 5
)
SELECT DISTINCT id_a, id_b FROM (
  SELECT id_a, id_b FROM pf UNION ALL SELECT id_a, id_b FROM pr2
)
"""


# ---------------------------------------------------------------------------
# q247 — MPEG audio (MP3) + ADTS (AAC) frame-header metadata
# (operators/audio.py:audio_frame_stats): the audio mirror of the MP4
# container tier — frame count, sample rate, channels, duration and
# per-frame sizes walked out of the header chain (ISO 11172-3 /
# 14496-3, pure stdlib), no codec.  Fixtures plant closed-form header
# fields per doc (even docs MP3 with an ID3v2 tag to skip, odd docs
# ADTS); the oracle replays the frame-length arithmetic
# (144000·bitrate//rate + padding, 7+payload) directly.
# ---------------------------------------------------------------------------


def _synth_audio(docs: DataFrame) -> DataFrame:
    """(doc_id, content): deterministic MP3/ADTS fixture per doc."""

    def _audio(did):
        if did % 2 == 0:
            n = 3 + did % 6
            if did % 5 == 0:
                bis = [1 + did % 14] * n
            else:
                bis = [1 + (did + i) % 14 for i in range(n)]
            return audio.encode_mp3_fixture(
                bis,
                sr_idx=did % 3,
                paddings=[(did + i) % 2 for i in range(n)],
                mode=did % 4,
                id3_bytes=did % 9,
            )
        n = 2 + did % 5
        return audio.encode_adts_fixture(
            [20 + ((did + 3 * i) % 30) for i in range(n)],
            profile=did % 4,
            sfi=3 + did % 5,
            channels=1 + did % 2,
        )

    return _doc_blobs(docs, _audio)


def q247_audio_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return audio.audio_frame_stats(_synth_audio(docs))


Q247_SQL = """
WITH m AS (
  SELECT doc_id AS did, 3 + doc_id % 6 AS n,
         ([44100, 48000, 32000])[CAST(doc_id % 3 AS INT) + 1] AS sr,
         CAST(doc_id % 4 AS INT) AS mode
  FROM documents WHERE doc_id % 2 = 0
), mf AS (
  SELECT did, n, sr, mode,
         list_transform(range(0, n), i ->
           144000 * ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[
             CASE WHEN did % 5 = 0 THEN 1 + CAST(did % 14 AS INT)
                  ELSE 1 + CAST((did + i) % 14 AS INT) END]
           // sr + CAST((did + i) % 2 AS INT)) AS fb
  FROM m
), a AS (
  SELECT doc_id AS did, 2 + doc_id % 5 AS n,
         ([48000, 44100, 32000, 24000, 22050])[CAST(doc_id % 5 AS INT) + 1]
           AS sr
  FROM documents WHERE doc_id % 2 = 1
), af AS (
  SELECT did, n, sr,
         list_transform(range(0, n),
                        i -> 27 + CAST((did + 3 * i) % 30 AS INT)) AS fb
  FROM a
)
SELECT did AS doc_id, 'mp3' AS container, CAST(n AS BIGINT) AS n_frames,
       CAST(sr AS INT) AS sample_rate,
       CAST(CASE WHEN mode = 3 THEN 1 ELSE 2 END AS INT) AS channels,
       CAST(1152 AS INT) AS samples_per_frame,
       CAST(n * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
       CAST(list_sum(fb) AS BIGINT) AS total_frame_bytes,
       CAST(list_min(fb) AS INT) AS min_frame_bytes,
       CAST(list_max(fb) AS INT) AS max_frame_bytes,
       (did % 5 = 0) AS is_cbr
FROM mf
UNION ALL
SELECT did, 'adts', CAST(n AS BIGINT), CAST(sr AS INT),
       CAST(1 + did % 2 AS INT), CAST(1024 AS INT),
       CAST(n * 1024 * 1000 // sr AS BIGINT),
       CAST(list_sum(fb) AS BIGINT), CAST(list_min(fb) AS INT),
       CAST(list_max(fb) AS INT), FALSE
FROM af
"""


# ---------------------------------------------------------------------------
# q260/q261/q262 — WARC/WET web-archive source (sources/warc.py): the
# entry-point container of every real 100 TB text pipeline.  Fixtures
# are VALID archives (ISO 28500 record framing, member-per-record gzip
# for half the docs so both compression paths run under the oracle
# gate); the parse path is real: gzip-member walk → version line →
# header fields → Content-Length block slice → HTTP message split.
# q260 catalogs records (type/uri/status/payload size), q261 extracts
# WET conversion text verbatim, q262 bridges WET text into the full
# curation funnel (quality → lang-ID → dedup, the q34 pattern) by
# planting each document's OWN text as its conversion record — the
# engine must recover byte-identical text through the archive walk for
# the funnel to match the q34-style oracle.
# ---------------------------------------------------------------------------


def _synth_warc(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    def _warc(did):
        recs = [
            {
                "type": "response",
                "uri": f"http://site{did % 7}.example/{did}/{r}",
                "status": 404 if (did + r) % 4 == 0 else 200,
                "http_content_type": "text/html",
                "payload": (
                    f"payload doc {did} rec {r} " + "x" * ((did + r) % 17)
                ).encode(),
                # every third response rides chunked transfer-encoding,
                # and Content-Encoding rotates identity/gzip/deflate/
                # raw-deflate on an independent stride: payload_len
                # gates the fully DECODED length, so the dechunker AND
                # the RFC 9110 content-decoder are under the oracle
                # (incl. the chunked+gzip composition)
                "chunked": (did + r) % 3 == 0,
                "content_encoding": (
                    None, "gzip", "deflate", "deflate-raw"
                )[(did + 2 * r) % 4],
            }
            for r in range(1 + did % 3)
        ]
        return warcmod.encode_warc_fixture(recs, gzip_records=(did % 2 == 0))

    return _doc_blobs(docs, _warc)


def q260_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    docs = _t(spark, sf_dir, "documents")
    return warcmod.warc_records(_synth_warc(docs)).select(
        "doc_id", "rec_idx", "warc_type", "target_uri", "http_status",
        "payload_len",
    )


Q260_SQL = """
WITH info AS (
  SELECT doc_id, CAST(0 AS INT) AS rec_idx, 'warcinfo' AS warc_type,
         CAST(NULL AS VARCHAR) AS target_uri,
         CAST(NULL AS INT) AS http_status,
         CAST(length('software: occupation-wage-etl-spark') + 2
              AS BIGINT) AS payload_len
  FROM documents
), resp AS (
  SELECT doc_id, UNNEST(range(1, 2 + doc_id % 3)) AS k FROM documents
), r2 AS (
  SELECT doc_id, CAST(k AS INT) AS rec_idx, 'response' AS warc_type,
         'http://site' || (doc_id % 7) || '.example/' || doc_id || '/'
           || (k - 1) AS target_uri,
         CAST(CASE WHEN (doc_id + k - 1) % 4 = 0 THEN 404 ELSE 200 END
              AS INT) AS http_status,
         CAST(length('payload doc ' || doc_id || ' rec ' || (k - 1)
              || ' ') + (doc_id + k - 1) % 17 AS BIGINT) AS payload_len
  FROM resp
)
SELECT * FROM info UNION ALL SELECT * FROM r2
"""


def _synth_wet(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    def _wet(did):
        recs = [
            {
                "type": "conversion",
                "uri": f"http://w{did % 5}.example/{did}/{r}",
                "text": "\n".join(
                    f"doc {did} seg {r} ln {j}"
                    for j in range(1 + (did + r) % 3)
                ),
            }
            for r in range(1 + did % 4)
        ]
        return warcmod.encode_warc_fixture(
            recs, gzip_records=(did % 3 == 0), warcinfo=False
        )

    return _doc_blobs(docs, _wet)


def q261_wet_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    docs = _t(spark, sf_dir, "documents")
    return warcmod.wet_text(_synth_wet(docs))


Q261_SQL = """
WITH s AS (
  SELECT doc_id, UNNEST(range(0, 1 + doc_id % 4)) AS r FROM documents
), t AS (
  SELECT doc_id, r,
         array_to_string(
           list_transform(range(0, 1 + (doc_id + r) % 3),
             j -> 'doc ' || doc_id || ' seg ' || r || ' ln ' || j),
           chr(10)) AS text
  FROM s
)
SELECT doc_id, CAST(r AS INT) AS rec_idx,
       'http://w' || (doc_id % 5) || '.example/' || doc_id || '/' || r
         AS target_uri,
       CAST(length(text) AS INT) AS n_chars, text
FROM t
"""


def _synth_wet_of_documents(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    def _make(did, text):
        record = {
            "type": "conversion",
            "uri": f"http://c{did % 11}.example/{did}",
            "text": str(text or ""),
        }
        blob = warcmod.encode_warc_fixture(
            [record], gzip_records=(did % 2 == 0)
        )
        return [(did, blob)]

    return flat_map(
        docs, ["doc_id", "text"], "doc_id long, content binary", _make
    )


def q262_wet_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    docs = _t(spark, sf_dir, "documents")
    # curate_corpus consumes its input in several branches (quality
    # filter, lang-id join, dedup group + join-back); persist ONE
    # pruned pass of the WET parse so the Arrow-batched WARC
    # encode+parse chain runs once, not per branch (guide §2.4 —
    # measured 16 Python nodes in the uncached plan).
    wet = cached(
        warcmod.wet_text(_synth_wet_of_documents(docs)).select(
            "doc_id", "text"
        )
    )
    out = curation.curate_corpus(
        wet, min_quality=CURATE_MIN_Q, langs=("en",)
    )
    return out.select("doc_id", "quality", "pred_lang")


def _wet_curate_oracle_sql() -> str:
    quality_cte = Q17_SQL.strip()
    lang_cte = Q18_SQL.strip()
    return f"""
WITH q AS ({quality_cte}),
l AS ({lang_cte}),
kept AS (
  SELECT d.doc_id, d.text, q.quality, l.pred_lang
  FROM documents d
  JOIN q ON d.doc_id = q.doc_id
  JOIN l ON d.doc_id = l.doc_id
  WHERE q.quality >= {CURATE_MIN_Q} AND l.pred_lang = 'en'
),
keep_ids AS (
  SELECT min(doc_id) AS doc_id
  FROM kept
  GROUP BY md5({_NORM})
)
SELECT k.doc_id, k.quality, k.pred_lang
FROM kept k JOIN keep_ids USING (doc_id)
"""


Q262_SQL = _wet_curate_oracle_sql()


# ---------------------------------------------------------------------------
# q263/q264 — HTML main-content extraction (sources/html_text.py): the
# boilerplate-stripping page→text step between the WARC payload and the
# curation funnel.  Pages are synthesized as ONE codegen Column
# expression (concat + transform over a sequence — no Python in the
# synth path): site chrome (header/nav with doc-unique link text),
# planted main blocks (h1 + 1..4 <p>s with an &amp; entity), an
# in-body pure-link <ul> (link-density boilerplate), and a doc-unique
# footer.  q263 checks the extracted text verbatim; q264 plants
# group-shared main content under doc-UNIQUE chrome — whole-page dedup
# sees all-distinct pages, extracted-main dedup collapses them to one
# group per plant (the reason page→text runs BEFORE dedup in every
# real pipeline).
# ---------------------------------------------------------------------------


def _synth_page_html(did: F.Column, main: F.Column) -> F.Column:
    """Full page: chrome + planted main content + link-list + footer."""
    d = did.cast("string")
    return F.concat(
        F.lit("<html><head><title>t</title><style>p{x:1}</style>"
              "<script>var a='<p>no</p>';</script></head><body>"),
        F.lit("<header><h1>site "), d, F.lit(" chrome</h1></header>"),
        F.lit("<nav><ul><li><a href='/'>home "), d,
        F.lit("</a></li><li><a href='/x'>sec "), d,
        F.lit("</a></li></ul></nav>"),
        main,
        F.lit("<ul><li><a href='/r1'>rel "), d,
        F.lit(" one</a></li><li><a href='/r2'>rel "), d,
        F.lit(" two</a></li></ul>"),
        F.lit("<aside><p>also like "), d, F.lit("</p></aside>"),
        F.lit("<footer><p>(c) "), d, F.lit(" corp</p></footer>"),
        F.lit("</body></html>"),
    )


def q263_html_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import html_text

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    d = did.cast("string")
    paras = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (did % 4).cast("int")),
            lambda k: F.concat(
                F.lit("<p>doc "), d, F.lit(" para "), k.cast("string"),
                F.lit(" text &amp; <b>more</b></p>"),
            ),
        ),
        "",
    )
    main = F.concat(
        F.lit("<article><h1>doc "), d, F.lit(" headline</h1>"),
        paras, F.lit("</article>"),
    )
    pages = docs.select(
        "doc_id", _synth_page_html(did, main).alias("html")
    )
    return html_text.main_text_distributed(pages)


Q263_SQL = """
WITH t AS (
  SELECT doc_id,
         'doc ' || doc_id || ' headline' || chr(10) ||
         array_to_string(
           list_transform(range(0, 1 + doc_id % 4),
             k -> 'doc ' || doc_id || ' para ' || k || ' text & more'),
           chr(10)) AS text,
         CAST(2 + doc_id % 4 AS INT) AS n_blocks
  FROM documents
)
SELECT doc_id, n_blocks, CAST(length(text) AS INT) AS n_chars, text
FROM t
"""


def q264_html_boilerplate_collapse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from occupation_wage_etl_spark.sources import html_text

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    g = (did % 19).cast("string")
    paras = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(2)),
            lambda k: F.concat(
                F.lit("<p>group "), g, F.lit(" para "),
                k.cast("string"), F.lit("</p>"),
            ),
        ),
        "",
    )
    pages = docs.select(
        "doc_id", _synth_page_html(did, paras).alias("html")
    )
    extracted = html_text.main_text_distributed(pages)
    return (
        extracted.groupBy("text")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("rep_doc_id", "n_dups")
    )


Q264_SQL = """
SELECT min(doc_id) AS rep_doc_id, count(*) AS n_dups
FROM documents
GROUP BY doc_id % 19
"""


# ---------------------------------------------------------------------------
# q265 — charset sniff + transcode (operators/charset.py): the
# bytes→text entry step for non-UTF-8 corpora.  Fixture rotates the
# encoding by doc_id % 7 — plain UTF-8, UTF-8+BOM, UTF-16LE/BE with
# BOM, high-byte Latin-1 (invalid as UTF-8), BOM-less UTF-16LE
# (valid-as-UTF-8 NUL trap), and windows-1252 (0x80–0x9F smart-quote/
# euro block, the HTML5 latin-1-is-cp1252 rule) — so every rung of the
# detection ladder is oracle-gated.  DuckDB replays byte counts via
# encode()/length().
# ---------------------------------------------------------------------------


def _synth_charset_bytes(docs: DataFrame) -> DataFrame:
    import codecs

    def _raw(did):
        m = did % 7
        if m == 0:
            return f"doc {did} plain ascii".encode("utf-8")
        if m == 1:
            return codecs.BOM_UTF8 + f"doc {did} café ünïcode".encode()
        if m == 2:
            return codecs.BOM_UTF16_LE + (
                f"doc {did} wide le".encode("utf-16-le")
            )
        if m == 3:
            return codecs.BOM_UTF16_BE + (
                f"doc {did} wide be".encode("utf-16-be")
            )
        if m == 4:
            return f"café {did} à la carte".encode("latin-1")
        if m == 5:
            return f"doc {did} bare wide".encode("utf-16-le")
        return f"doc {did} “smart” price €9".encode("cp1252")

    return _doc_blobs(docs, _raw)


def q265_charset_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import charset

    docs = _t(spark, sf_dir, "documents")
    return charset.sniff_transcode(_synth_charset_bytes(docs))


Q265_SQL = """
WITH t AS (
  SELECT doc_id, doc_id % 7 AS m,
         CASE doc_id % 7
           WHEN 0 THEN 'doc ' || doc_id || ' plain ascii'
           WHEN 1 THEN 'doc ' || doc_id || ' café ünïcode'
           WHEN 2 THEN 'doc ' || doc_id || ' wide le'
           WHEN 3 THEN 'doc ' || doc_id || ' wide be'
           WHEN 4 THEN 'café ' || doc_id || ' à la carte'
           WHEN 5 THEN 'doc ' || doc_id || ' bare wide'
           ELSE 'doc ' || doc_id || ' “smart” price €9'
         END AS text
  FROM documents
)
SELECT doc_id,
       CASE m WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8'
              WHEN 2 THEN 'utf-16-le' WHEN 3 THEN 'utf-16-be'
              WHEN 4 THEN 'latin-1' WHEN 5 THEN 'utf-16-le'
              ELSE 'windows-1252' END AS encoding,
       m IN (1, 2, 3) AS had_bom,
       CAST(CASE m
         WHEN 0 THEN octet_length(encode(text))
         WHEN 1 THEN octet_length(encode(text)) + 3
         WHEN 2 THEN 2 + 2 * length(text)
         WHEN 3 THEN 2 + 2 * length(text)
         WHEN 4 THEN length(text)
         WHEN 5 THEN 2 * length(text)
         ELSE length(text)
       END AS BIGINT) AS n_bytes,
       CAST(length(text) AS INT) AS n_chars,
       text
FROM t
"""


# ---------------------------------------------------------------------------
# q266 — composite-font (CID/Type0) PDF text extraction: the dominant
# real-world PDF encoding.  Same planted pages as q257, but every line
# is shown as 2-byte CID hex strings (codes 0x0100+, ≠ Unicode) that
# decode ONLY through the embedded /ToUnicode CMap (bfchar + bfrange
# halves, sources/pdf.py:_parse_tounicode_cmap); layouts rotate
# Flate / plain / ObjStm+XRef-stream so the CMap stream itself rides
# every container path.  Oracle: the q257 closed form — text must be
# byte-identical to the simple-font plant.
# ---------------------------------------------------------------------------


def _synth_pdf_cid(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import pdf as pdfmod

    def _pdf(did):
        pages = [
            [
                f"doc {did} pg {p + 1} ln {k} (ok)"
                for k in range(1 + (did + p) % 4)
            ]
            for p in range(1 + did % 3)
        ]
        return pdfmod.encode_pdf_fixture(
            pages,
            cid_font=True,
            compress_page=lambda p: [None, "flate"][(did + p) % 2],
            use_tj_array_every=3,
            use_objstm=(did % 3 == 1),
        )

    return _doc_blobs(docs, _pdf)


def q266_pdf_cid_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import pdf as pdfmod

    docs = _t(spark, sf_dir, "documents")
    return pdfmod.pdf_text(_synth_pdf_cid(docs))


Q266_SQL = Q257_SQL


# ---------------------------------------------------------------------------
# q267 — DOCX full-package walk (sources/docx.py:extract_docx_parts):
# body + headerN/footerN parts + footnotes/endnotes, each tagged with
# part kind and ordinal; the separator/continuation pseudo-notes the
# fixture always writes (ids -1/0, as Word does) must be skipped by
# w:type.  Endnotes planted on even docs only, so presence/absence of
# a whole part file is oracle-gated too.
# ---------------------------------------------------------------------------


def _synth_docx_parts(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import docx as docxmod

    def _docx(did):
        paras = [
            f"doc {did} para {k}\tA&B <x{(did + k) % 7}>"
            for k in range(2 + did % 3)
        ]
        return docxmod.encode_docx_fixture(
            paras,
            runs_per_paragraph=1 + did % 4,
            headers=[[f"doc {did} header"]],
            footers=[[f"doc {did} footer"]],
            footnotes=[[f"doc {did} note {n}"] for n in range(1 + did % 2)],
            endnotes=[[f"doc {did} endnote"]] if did % 2 == 0 else None,
        )

    return _doc_blobs(docs, _docx)


def q267_docx_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import docx as docxmod

    docs = _t(spark, sf_dir, "documents")
    return docxmod.docx_parts_text(_synth_docx_parts(docs))


Q267_SQL = """
WITH body AS (
  SELECT doc_id, UNNEST(range(1, 3 + doc_id % 3)) AS para
  FROM documents
), bt AS (
  SELECT doc_id, 'document' AS part, 0 AS part_idx, para,
         'doc ' || doc_id || ' para ' || (para - 1) || chr(9)
           || 'A&B <x' || ((doc_id + para - 1) % 7) || '>' AS text
  FROM body
), hd AS (
  SELECT doc_id, 'header' AS part, 1 AS part_idx, 1 AS para,
         'doc ' || doc_id || ' header' AS text
  FROM documents
), ft AS (
  SELECT doc_id, 'footer' AS part, 1 AS part_idx, 1 AS para,
         'doc ' || doc_id || ' footer' AS text
  FROM documents
), fn0 AS (
  SELECT doc_id, UNNEST(range(1, 2 + doc_id % 2)) AS part_idx
  FROM documents
), fn AS (
  SELECT doc_id, 'footnote' AS part, part_idx, 1 AS para,
         'doc ' || doc_id || ' note ' || (part_idx - 1) AS text
  FROM fn0
), en AS (
  SELECT doc_id, 'endnote' AS part, 1 AS part_idx, 1 AS para,
         'doc ' || doc_id || ' endnote' AS text
  FROM documents WHERE doc_id % 2 = 0
), u AS (
  SELECT * FROM bt UNION ALL SELECT * FROM hd
  UNION ALL SELECT * FROM ft UNION ALL SELECT * FROM fn
  UNION ALL SELECT * FROM en
)
SELECT doc_id, part, CAST(part_idx AS INT) AS part_idx,
       CAST(para AS INT) AS para,
       CAST(length(text) AS INT) AS n_chars, text
FROM u
"""


# ---------------------------------------------------------------------------
# q268 — the END-TO-END web-ingest chain, one lazy plan: WARC archive →
# response payload bytes (sources/warc.py:warc_payloads) → charset
# sniff + transcode (operators/charset.py — encodings rotate utf-8 /
# utf-8+BOM / latin-1 by doc_id%3, with a planted 'café' so latin-1
# bytes differ) → HTML main-content extraction (sources/html_text.py —
# group-shared main text under doc-unique chrome) → exact-dup collapse.
# Four flat_map tiers chained scan-side with ONE final shuffle (the
# dedup groupBy); n_encodings per group proves byte-level diversity
# collapsed to identical text.  This is the q34-class composition for
# the crawl entry path.
# ---------------------------------------------------------------------------


def _synth_web_archives(docs: DataFrame) -> DataFrame:
    import codecs

    from occupation_wage_etl_spark.sources import warc as warcmod

    def _warc(did):
        g = did % 19
        paras = "".join(f"<p>group {g} café para {k}</p>" for k in range(3))
        html = (
            "<html><head><title>t</title></head><body>"
            f"<nav><a href='/'>home {did}</a></nav>"
            f"<article>{paras}</article>"
            f"<footer><p>(c) {did} corp</p></footer>"
            "</body></html>"
        )
        m = did % 3
        if m == 0:
            raw = html.encode("utf-8")
        elif m == 1:
            raw = codecs.BOM_UTF8 + html.encode("utf-8")
        else:
            raw = html.encode("latin-1")
        return warcmod.encode_warc_fixture(
            [
                {
                    "type": "response",
                    "uri": f"http://g{g}.example/{did}",
                    "status": 200,
                    "http_content_type": "text/html",
                    "payload": raw,
                }
            ],
            gzip_records=(did % 2 == 0),
        )

    return _doc_blobs(docs, _warc)


def q268_web_ingest_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import charset
    from occupation_wage_etl_spark.sources import html_text
    from occupation_wage_etl_spark.sources import warc as warcmod

    docs = _t(spark, sf_dir, "documents")
    pay = warcmod.warc_payloads(_synth_web_archives(docs))
    dec = charset.sniff_transcode(
        pay.select("doc_id", F.col("payload").alias("content"))
    )
    dec = cached(dec)  # one decode pass feeds both branches below
    main = html_text.main_text_distributed(
        dec.selectExpr("doc_id", "text AS html")
    )
    joined = main.join(
        dec.select("doc_id", "encoding", "had_bom"), "doc_id"
    )
    return (
        joined.groupBy("text")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
            # utf-8 and utf-8+BOM are distinct byte-level variants
            F.countDistinct("encoding", "had_bom").alias("n_encodings"),
        )
        .select("rep_doc_id", "n_dups", "n_encodings")
    )


Q268_SQL = """
SELECT min(doc_id) AS rep_doc_id, count(*) AS n_dups,
       count(DISTINCT doc_id % 3) AS n_encodings
FROM documents GROUP BY doc_id % 19
"""


# ---------------------------------------------------------------------------
# q269 — URL canonicalization (functions/url.py): the URL-level dedup
# key for crawled corpora, entirely codegen (regexp chain — zero
# Python, zero shuffles; the ONLY query-side cost is the scan).
# Fixture rotates four variants by doc_id%4 — plain, uppercased
# scheme/host + :80 + fragment, utm-decorated, and mixed real+tracking
# params — and the oracle states the expected canonical form
# closed-form (it does NOT replay the regexes, so the gate is on the
# canonicalizer's OUTPUT contract, not its implementation).
# ---------------------------------------------------------------------------


def q269_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.functions import url as U

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s7 = (did % 7).cast("string")
    s5 = (did % 5).cast("string")
    base = F.concat(
        F.lit("http://www.site"), s7, F.lit(".example/path"), s5
    )
    m = did % 4
    raw = (
        F.when(m == 0, base)
        .when(
            m == 1,
            F.concat(
                F.lit("HTTP://WWW.SITE"), s7, F.lit(".EXAMPLE:80/path"),
                s5, F.lit("#frag"),
            ),
        )
        .when(
            m == 2,
            F.concat(base, F.lit("?utm_source=x&utm_campaign=y")),
        )
        .otherwise(
            F.concat(
                base, F.lit("?id="), (did % 3).cast("string"),
                F.lit("&utm_medium=z"),
            )
        )
    )
    return docs.select(
        "doc_id",
        U.canonicalize_url(raw).alias("canon_url"),
        U.url_host(raw).alias("host"),
        U.url_path(raw).alias("path"),
    )


Q269_SQL = """
SELECT doc_id,
       'http://www.site' || (doc_id % 7) || '.example/path'
         || (doc_id % 5)
         || CASE WHEN doc_id % 4 = 3
                 THEN '?id=' || (doc_id % 3) ELSE '' END AS canon_url,
       'www.site' || (doc_id % 7) || '.example' AS host,
       '/path' || (doc_id % 5) AS path
FROM documents
"""


# ---------------------------------------------------------------------------
# q270 — exact-substring repeated spans (dedup.repeated_tile_spans):
# the Lee-et-al. span-level dedup primitive — maximal cross-doc
# repeated spans via positioned 16-char tiles merged along alignment
# diagonals (islands trick; one join + one pair-keyed window, q20's
# stop-fingerprint cap for 100 TB linearity).  Plant: each doc is
# unique-prefix (1+id%3 tiles) ‖ GROUP-shared mid (3 tiles, g=id%199)
# ‖ unique-suffix — same-group docs share exactly one 48-char span at
# different aligned offsets, and the oracle replays tiles → cap →
# join → islands in SQL.  At ≫64 docs/group the cap (by design)
# suppresses the span as boilerplate — the oracle mirrors it.
# ---------------------------------------------------------------------------

SPAN_G = 199


def _planted_span_docs(docs: DataFrame) -> DataFrame:
    """unique-prefix ‖ group-shared mid ‖ unique-suffix, all 16-char
    md5-derived tiles (codegen; the oracle rebuilds the same string)."""
    did = F.col("doc_id")
    ds = did.cast("string")
    g = (did % SPAN_G).cast("string")

    def tiles_of(prefix_expr, n_expr):
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_expr - F.lit(1)),
                lambda j: F.substring(
                    F.md5(F.concat(prefix_expr, j.cast("string"))), 1, 16
                ),
            ),
            "",
        )

    text = F.concat(
        tiles_of(F.concat(ds, F.lit("p")), (did % 3).cast("int") + F.lit(1)),
        tiles_of(F.concat(F.lit("g"), g, F.lit("m")), F.lit(3)),
        tiles_of(F.concat(ds, F.lit("s")), (did % 2).cast("int") + F.lit(1)),
    )
    return docs.select("doc_id", text.alias("text"))


def q270_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.repeated_tile_spans(
        _planted_span_docs(docs), min_tiles=2
    )


_SPAN_PIPE_SQL = f"""txt AS (
  SELECT doc_id,
    array_to_string(list_transform(range(0, 1 + doc_id % 3),
      j -> substr(md5(doc_id || 'p' || j), 1, 16)), '')
    || array_to_string(list_transform(range(0, 3),
      j -> substr(md5('g' || (doc_id % {SPAN_G}) || 'm' || j), 1, 16)), '')
    || array_to_string(list_transform(range(0, 1 + doc_id % 2),
      j -> substr(md5(doc_id || 's' || j), 1, 16)), '') AS s
  FROM documents
), tiles AS (
  SELECT doc_id AS id, CAST(j AS INT) AS i,
         md5(substr(s, CAST(j AS INT) * 16 + 1, 16)) AS fp
  FROM txt, UNNEST(range(0, greatest(CAST(ceil(length(s) / 16.0) AS BIGINT), 1))) AS u(j)
), capped AS (
  SELECT id, i, fp FROM (
    SELECT id, i, fp, count(*) OVER (PARTITION BY fp) AS df FROM tiles
  ) WHERE df <= 64
), hits AS (
  SELECT l.id AS id_a, r.id AS id_b, l.i AS ia, r.i AS ib
  FROM capped l JOIN capped r ON l.fp = r.fp AND l.id < r.id
), runs AS (
  SELECT id_a, id_b, ia, ib,
         ia - row_number() OVER (
           PARTITION BY id_a, id_b, ia - ib ORDER BY ia
         ) AS grp
  FROM hits
), spans AS (
  SELECT id_a, id_b, CAST(min(ia) * 16 AS INT) AS a_start,
         CAST(min(ib) * 16 AS INT) AS b_start,
         count(*) AS n_tiles, count(*) * 16 AS span_chars
  FROM runs GROUP BY id_a, id_b, ia - ib, grp
  HAVING count(*) >= 2
)"""

Q270_SQL = f"""
WITH {_SPAN_PIPE_SQL}
SELECT id_a, id_b, a_start, b_start, n_tiles, span_chars FROM spans
"""


# ---------------------------------------------------------------------------
# q273 — span-level dedup APPLIED (dedup.cut_longest_repeated_span):
# the transform half of the Lee-et-al. loop — every doc appearing as
# the higher id of a q270 span gets its longest span cut (min-id copy
# stays canonical; deterministic struct-argmax tie-break), and the
# output md5 gates the actual string surgery bit-exactly, not just the
# length arithmetic.  Oracle: the shared q270 span pipeline + the same
# argmax + substr surgery in SQL.
# ---------------------------------------------------------------------------


def q273_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    planted = cached(_planted_span_docs(docs))
    spans = dedup.repeated_tile_spans(planted, min_tiles=2)
    return dedup.cut_longest_repeated_span(planted, spans)


Q273_SQL = f"""
WITH {_SPAN_PIPE_SQL},
pick AS (
  SELECT id_b AS id,
         max({{'len': span_chars, 'nbs': -b_start, 'nia': -id_a}}) AS w
  FROM spans GROUP BY id_b
),
cutx AS (
  SELECT t.doc_id, t.s, (p.w).len AS cut, -((p.w).nbs) AS b0
  FROM txt t LEFT JOIN pick p ON t.doc_id = p.id
)
SELECT doc_id,
       CAST(length(s) AS BIGINT) AS n_before,
       CAST(length(s) - coalesce(cut, 0) AS BIGINT) AS n_after,
       CAST(coalesce(cut, 0) AS BIGINT) AS cut_chars,
       md5(CASE WHEN cut IS NULL THEN s
           ELSE substr(s, 1, CAST(b0 AS INT))
                || substr(s, CAST(b0 + cut + 1 AS INT)) END)
         AS new_text_md5
FROM cutx
"""


# ---------------------------------------------------------------------------
# q271/q272 — robots.txt rules + allow evaluation (operators/robots.py):
# crawl politeness as engine tables.  The fixture robots file per doc
# has the canonical layout — a '*' group (Disallow + longer Allow +
# Crawl-delay), a bot-specific group, and a group-independent Sitemap —
# built as ONE codegen concat.  q271 gates the group-scoped parse
# (blank-line blocks, UA×rules binding, agentless sitemap); q272 gates
# longest-prefix-wins / tie→allow / default-allow over planted paths.
# ---------------------------------------------------------------------------


def _synth_robots(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    txt = F.concat(
        F.lit("# policy "), did.cast("string"), F.lit("\n"),
        F.lit("User-agent: *\n"),
        F.lit("Disallow: /private\n"),
        F.lit("Allow: /private/ok"), (did % 3).cast("string"),
        F.lit("\n"),
        F.lit("Crawl-delay: "), (did % 5 + 1).cast("string"),
        F.lit("\n\n"),
        F.lit("User-agent: bot"), (did % 2).cast("string"),
        F.lit("\nDisallow: /\n\n"),
        F.lit("Sitemap: http://s"), (did % 7).cast("string"),
        F.lit(".example/sitemap.xml\n"),
    )
    return docs.select("doc_id", txt.alias("robots_txt"))


def q271_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import robots

    docs = _t(spark, sf_dir, "documents")
    return robots.robots_rules(_synth_robots(docs))


Q271_SQL = """
SELECT doc_id, '*' AS agent, 'disallow' AS rule_type,
       '/private' AS value FROM documents
UNION ALL
SELECT doc_id, '*', 'allow', '/private/ok' || (doc_id % 3)
FROM documents
UNION ALL
SELECT doc_id, '*', 'crawl-delay', CAST(doc_id % 5 + 1 AS VARCHAR)
FROM documents
UNION ALL
SELECT doc_id, 'bot' || (doc_id % 2), 'disallow', '/' FROM documents
UNION ALL
SELECT doc_id, CAST(NULL AS VARCHAR), 'sitemap',
       'http://s' || (doc_id % 7) || '.example/sitemap.xml'
FROM documents
"""


def q272_robots_allowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import robots

    docs = _t(spark, sf_dir, "documents")
    rules = robots.robots_rules(_synth_robots(docs))
    did = F.col("doc_id")
    urls = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(
                    F.lit("/private/ok"), (did % 3).cast("string"),
                    F.lit("/page"),
                ),
                F.lit("/private/no"),
                F.concat(F.lit("/pub"), (did % 5).cast("string")),
            )
        ).alias("path"),
    )
    return robots.robots_is_allowed(rules, urls, agent="*")


Q272_SQL = """
SELECT doc_id, '/private/ok' || (doc_id % 3) || '/page' AS path,
       TRUE AS allowed,
       '/private/ok' || (doc_id % 3) AS matched_rule,
       CAST(12 AS INT) AS matched_len
FROM documents
UNION ALL
SELECT doc_id, '/private/no', FALSE, '/private', CAST(8 AS INT)
FROM documents
UNION ALL
SELECT doc_id, '/pub' || (doc_id % 5), TRUE,
       CAST(NULL AS VARCHAR), CAST(NULL AS INT)
FROM documents
"""


# ---------------------------------------------------------------------------
# q274 — sentence-aware chunking under a token budget
# (chunking.sentence_chunks): the RAG/pretrain chunker that never cuts
# mid-sentence, as a ZERO-shuffle scan-side fold (split → greedy
# append-or-merge F.aggregate → posexplode).  Plant: equal-token
# sentences (t = 2 + id%3 tokens each, ns = 5 + id%4 sentences,
# budget 7) make greedy packing equal floor-arithmetic, so the oracle
# states chunk boundaries closed-form; unequal-size behavior is
# unit-tested (over-budget sentence → own chunk).
# ---------------------------------------------------------------------------

CHUNK_BUDGET = 7


def q274_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = (did % 3).cast("int") + F.lit(2)
    ns = (did % 4).cast("int") + F.lit(5)
    sent = lambda k: F.concat(  # noqa: E731
        F.lit("d"), did.cast("string"), F.lit(" s"), k.cast("string"),
        F.repeat(F.lit(" f"), t - F.lit(2)), F.lit("."),
    )
    text = F.concat_ws(
        " ", F.transform(F.sequence(F.lit(0), ns - F.lit(1)), sent)
    )
    planted = docs.select("doc_id", text.alias("text"))
    return chunking.sentence_chunks(planted, max_tokens=CHUNK_BUDGET)


Q274_SQL = f"""
WITH p AS (
  SELECT doc_id, 2 + doc_id % 3 AS t, 5 + doc_id % 4 AS ns,
         (7 // (2 + doc_id % 3)) AS spc
  FROM documents
), c AS (
  SELECT doc_id, t, ns, spc,
         UNNEST(range(0, CAST(ceil(ns / CAST(spc AS DOUBLE)) AS BIGINT)))
           AS chunk
  FROM p
), s AS (
  SELECT doc_id, CAST(chunk AS INT) AS chunk,
         least(ns, (chunk + 1) * spc) - chunk * spc AS nsent,
         t,
         array_to_string(
           list_transform(range(chunk * spc, least(ns, (chunk + 1) * spc)),
             k -> 'd' || doc_id || ' s' || k || repeat(' f', t - 2) || '.'),
           ' ') AS text
  FROM c
)
SELECT doc_id, chunk, CAST(nsent AS INT) AS n_sentences,
       CAST(nsent * t AS INT) AS n_tokens, text
FROM s
"""


# ---------------------------------------------------------------------------
# q275 — web-graph edge extraction (html_text.links_distributed →
# functions/url.py): in-content <a href> links pulled out of planted
# pages (chrome nav/footer links excluded by the container rules, the
# link targets deliberately messy — uppercase scheme/host, :80,
# utm params) then canonicalized into the graph's edge key.  The
# crawl-side mirror of the q92/q204 graph tier's edge table.
# ---------------------------------------------------------------------------


def q275_link_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.functions import url as U
    from occupation_wage_etl_spark.sources import html_text

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    links = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (did % 3).cast("int") + F.lit(1)),
            lambda k: F.concat(
                F.lit("<a href='HTTP://T"),
                ((did * 7 + k) % 101).cast("string"),
                F.lit(".EXAMPLE:80/p?utm_source=x'>ref "),
                k.cast("string"),
                F.lit("</a> "),
            ),
        ),
        "",
    )
    page = F.concat(
        F.lit("<html><body><nav><a href='/chrome'>menu</a></nav>"
              "<article><p>"),
        links,
        F.lit("</p></article>"
              "<footer><a href='/legal'>legal</a></footer>"
              "</body></html>"),
    )
    pages = docs.select("doc_id", page.alias("html"))
    edges = html_text.links_distributed(pages)
    return edges.select(
        "doc_id",
        "link_idx",
        U.canonicalize_url(F.col("href")).alias("canon_href"),
        U.url_host(F.col("href")).alias("target_host"),
        "anchor_text",
    )


Q275_SQL = """
WITH e AS (
  SELECT doc_id, UNNEST(range(0, 2 + doc_id % 3)) AS k FROM documents
)
SELECT doc_id, CAST(k AS INT) AS link_idx,
       'http://t' || ((doc_id * 7 + k) % 101) || '.example/p'
         AS canon_href,
       't' || ((doc_id * 7 + k) % 101) || '.example' AS target_host,
       'ref ' || k AS anchor_text
FROM e
"""


# ---------------------------------------------------------------------------
# q276 — schema.org JSON-LD extraction (html_text.jsonld_distributed →
# F.from_json): the machine-readable metadata block of modern pages.
# Python only SLICES the <script type="application/ld+json"> text;
# the JSON parse + schema projection is JVM `from_json` (codegen).
# Plant: one Article object per page with nested author struct; a
# plain <script> decoy must not leak into the blobs.
# ---------------------------------------------------------------------------


def q276_jsonld_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import html_text

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    d = did.cast("string")
    page = F.concat(
        F.lit('<html><head><script>var decoy="{}";</script>'
              '<script type="application/ld+json">'
              '{"@type":"Article","headline":"doc '),
        d,
        F.lit(' headline","author":{"@type":"Person","name":"author '),
        (did % 23).cast("string"),
        F.lit('"},"datePublished":"2024-0'),
        (did % 9 + 1).cast("string"),
        F.lit('-01","wordCount":'),
        (did % 1000).cast("string"),
        F.lit("}</script></head><body><p>body</p></body></html>"),
    )
    pages = docs.select("doc_id", page.alias("html"))
    blobs = html_text.jsonld_distributed(pages)
    schema = (
        "`@type` string, headline string, "
        "author struct<`@type`:string, name:string>, "
        "datePublished string, wordCount long"
    )
    parsed = blobs.select(
        "doc_id",
        F.from_json(F.col("json"), schema).alias("j"),
    )
    return parsed.select(
        "doc_id",
        F.col("j.@type").alias("obj_type"),
        F.col("j.headline").alias("headline"),
        F.col("j.author.name").alias("author_name"),
        F.col("j.datePublished").alias("date_published"),
        F.col("j.wordCount").alias("word_count"),
    )


Q276_SQL = """
SELECT doc_id, 'Article' AS obj_type,
       'doc ' || doc_id || ' headline' AS headline,
       'author ' || (doc_id % 23) AS author_name,
       '2024-0' || (doc_id % 9 + 1) || '-01' AS date_published,
       doc_id % 1000 AS word_count
FROM documents
"""


# ---------------------------------------------------------------------------
# q277 — sitemap.org XML parse (robots.sitemap_entries): urlset pages
# on 2/3 of docs (loc/lastmod/changefreq/priority fields, some
# absent), sitemapindex pointers on the rest — both namespace-qualified
# layouts under one oracle.  Pages synthesized as one codegen concat.
# ---------------------------------------------------------------------------


def q277_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import robots

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    d = did.cast("string")
    ns = "http://www.sitemaps.org/schemas/sitemap/0.9"
    url_entries = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (did % 4).cast("int")),
            lambda k: F.concat(
                F.lit("<url><loc>http://h"), (did % 5).cast("string"),
                F.lit(".example/p"), k.cast("string"), F.lit("</loc>"),
                # lastmod+changefreq+priority only on even entries
                F.when(
                    k % 2 == 0,
                    F.concat(
                        F.lit("<lastmod>2024-01-0"),
                        ((did + k) % 9 + 1).cast("string"),
                        F.lit("</lastmod><changefreq>weekly</changefreq>"
                              "<priority>0."),
                        ((did + k) % 5 + 5).cast("string"),
                        F.lit("</priority>"),
                    ),
                ).otherwise(F.lit("")),
                F.lit("</url>"),
            ),
        ),
        "",
    )
    idx_entries = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (did % 2).cast("int")),
            lambda k: F.concat(
                F.lit("<sitemap><loc>http://h"), (did % 5).cast("string"),
                F.lit(".example/s"), k.cast("string"),
                F.lit(".xml</loc></sitemap>"),
            ),
        ),
        "",
    )
    xml = F.when(
        did % 3 != 0,
        F.concat(
            F.lit(f'<urlset xmlns="{ns}">'), url_entries,
            F.lit("</urlset>"),
        ),
    ).otherwise(
        F.concat(
            F.lit(f'<sitemapindex xmlns="{ns}">'), idx_entries,
            F.lit("</sitemapindex>"),
        )
    )
    pages = docs.select("doc_id", xml.alias("sitemap_xml"))
    return robots.sitemap_entries(pages)


Q277_SQL = """
WITH u AS (
  SELECT doc_id, UNNEST(range(0, 1 + doc_id % 4)) AS k
  FROM documents WHERE doc_id % 3 != 0
), urls AS (
  SELECT doc_id, 'url' AS kind, CAST(k AS INT) AS ordinal,
         'http://h' || (doc_id % 5) || '.example/p' || k AS loc,
         CASE WHEN k % 2 = 0
              THEN '2024-01-0' || ((doc_id + k) % 9 + 1) END AS lastmod,
         CASE WHEN k % 2 = 0 THEN 'weekly' END AS changefreq,
         CASE WHEN k % 2 = 0
              THEN CAST('0.' || ((doc_id + k) % 5 + 5) AS DOUBLE)
         END AS priority
  FROM u
), i AS (
  SELECT doc_id, UNNEST(range(0, 1 + doc_id % 2)) AS k
  FROM documents WHERE doc_id % 3 = 0
), idx AS (
  SELECT doc_id, 'sitemap' AS kind, CAST(k AS INT) AS ordinal,
         'http://h' || (doc_id % 5) || '.example/s' || k || '.xml' AS loc,
         CAST(NULL AS VARCHAR) AS lastmod,
         CAST(NULL AS VARCHAR) AS changefreq,
         CAST(NULL AS DOUBLE) AS priority
  FROM i
)
SELECT * FROM urls UNION ALL SELECT * FROM idx
"""


# ---------------------------------------------------------------------------
# q278 — perceptual image hash (multimodal.dhash64 over decode_image):
# the image-near-dup fingerprint — 64-bit difference hash as a pure
# codegen expression over the decoded 9×9 luma raster (REAL stdlib PNG
# decode in the loop).  Plant: 9×9 gradient PNGs with pixel
# (did·31 + c·7 + r·13) mod 256, so every comparison bit — including
# mod-256 wraps — is closed-form; the oracle rebuilds the signed
# 64-bit value via HUGEINT shifts.  bit_count gates popcount parity.
# ---------------------------------------------------------------------------


def q278_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    decoded = multimodal.decode_image(
        _synth_png(docs, 9), thumb=9
    )
    h = multimodal.dhash64(F.col("pixels"), grid=9)
    return decoded.select(
        "doc_id",
        h.alias("dhash"),
        F.bit_count(h).alias("n_bits"),
    )


Q278_SQL = """
WITH b AS (
  SELECT doc_id, r, c,
         CASE WHEN ((doc_id * 31 + c * 7 + r * 13) % 256) >
                   ((doc_id * 31 + (c + 1) * 7 + r * 13) % 256)
              THEN 1 ELSE 0 END AS bit
  FROM documents, UNNEST(range(0, 8)) AS t1(r),
       UNNEST(range(0, 8)) AS t2(c)
), h AS (
  SELECT doc_id,
         sum(CAST(bit AS HUGEINT)
             << CAST(63 - (r * 8 + c) AS INTEGER)) AS v,
         CAST(sum(bit) AS INT) AS n_bits
  FROM b GROUP BY doc_id
)
SELECT doc_id,
       CAST(CASE WHEN v >= 9223372036854775808::HUGEINT
                 THEN v - 18446744073709551616::HUGEINT
                 ELSE v END AS BIGINT) AS dhash,
       n_bits
FROM h
"""


# ---------------------------------------------------------------------------
# q279 — perceptual image NEAR-dup pairs (multimodal.dhash64 →
# dedup.hash64_band_pairs): the SimHash band funnel applied to image
# fingerprints — the q22 pattern for pixels.  Plant: 29 image groups;
# each doc renders the group gradient with a variant pixel bump
# (did%3: none / +128 at one cell / +64 at another), so same-group
# hashes differ by ≤4 comparison bits and cross-group hashes are far
# apart; decode (REAL PNG) → dhash (codegen) → 4×16-bit band join →
# exact Hamming verify.  Oracle replays pixels → bits → HUGEINT hash
# → bands → join → bit_count(xor), bit-exact.  Plant is capped at
# IMG_PLANT_N docs (the q242 planted-audit convention): a FIXED group
# count means pair output grows quadratically with corpus size — a
# plant artifact, not a funnel property (q22 runs the same funnel
# corpus-wide on text) — so the audit's ground truth stays
# constant-sized at any scale while the gate still exercises the full
# decode→hash→band→verify path.
# ---------------------------------------------------------------------------

IMG_PLANT_N = 500


def _synth_png9_groups(docs: DataFrame) -> DataFrame:
    def _png(did):
        g, v = did % 29, did % 3
        # per-group multiplicative step: wrap phase AND stride differ per
        # group, so cross-group hashes diverge by ~32 bits (no incidental
        # band collisions at scale)
        px = bytearray(((g + 1) * k * 41 + g * 17) % 256 for k in range(81))
        if v == 1:
            k = 9 * (g % 8) + 4
            px[k] = (px[k] + 128) % 256
        elif v == 2:
            k = 9 * ((g + 3) % 8) + 2
            px[k] = (px[k] + 64) % 256
        return multimodal.encode_png_gray(9, 9, bytes(px))

    return _doc_blobs(docs, _png)


def q279_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") < IMG_PLANT_N
    )
    decoded = multimodal.decode_image(
        _synth_png9_groups(docs), thumb=9
    )
    # Both sides of the band self-join consume the fingerprints; the
    # upstream here is the Arrow-batched PNG decode, which the uncached
    # plan re-executes once per side (8 Python nodes measured).
    # Persist the 16-byte (id, hash) rows instead (guide §2.4).  The
    # cache lives HERE, not inside hash64_band_pairs: for codegen-cheap
    # fingerprints (q22 SimHash) the self-join already shares one
    # exchange, and forcing a persist there measured 3× slower.
    hashed = cached(decoded.select(
        "doc_id", multimodal.dhash64(F.col("pixels"), grid=9).alias("dhash")
    ))
    return dedup.hash64_band_pairs(
        hashed, "dhash", id_col="doc_id", max_hamming=4
    )


Q279_SQL = f"""
WITH px AS (
  SELECT doc_id, doc_id % 29 AS g, doc_id % 3 AS v FROM documents
  WHERE doc_id < {IMG_PLANT_N}
), cmp AS (
  SELECT doc_id, r, c,
         ((g + 1) * (9 * r + c) * 41 + g * 17
          + CASE WHEN v = 1 AND r = g % 8 AND c = 4 THEN 128
                 WHEN v = 2 AND r = (g + 3) % 8 AND c = 2 THEN 64
                 ELSE 0 END) % 256 AS pl,
         ((g + 1) * (9 * r + c + 1) * 41 + g * 17
          + CASE WHEN v = 1 AND r = g % 8 AND c + 1 = 4 THEN 128
                 WHEN v = 2 AND r = (g + 3) % 8 AND c + 1 = 2 THEN 64
                 ELSE 0 END) % 256 AS pr
  FROM px, UNNEST(range(0, 8)) AS t1(r), UNNEST(range(0, 8)) AS t2(c)
), h AS (
  SELECT doc_id,
         sum(CASE WHEN pl > pr THEN 1::HUGEINT ELSE 0::HUGEINT END
             << CAST(63 - (r * 8 + c) AS INTEGER)) AS vv
  FROM cmp GROUP BY doc_id
), hs AS (
  SELECT doc_id,
         vv,
         CAST(CASE WHEN vv >= 9223372036854775808::HUGEINT
                   THEN vv - 18446744073709551616::HUGEINT
                   ELSE vv END AS BIGINT) AS hh
  FROM h
), bands AS (
  SELECT doc_id, hh, b AS band,
         CAST((vv >> CAST(b * 16 AS INTEGER)) & 65535::HUGEINT
              AS BIGINT) AS key
  FROM hs, UNNEST(range(0, 4)) AS t(b)
), pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r2.doc_id AS id_b,
         l.hh AS ha, r2.hh AS hb
  FROM bands l JOIN bands r2
    ON l.band = r2.band AND l.key = r2.key AND l.doc_id < r2.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(ha, hb)) <= 4
"""


# ---------------------------------------------------------------------------
# q280 — Unicode NFC normalization → dedup collapse
# (charset.nfc_normalize_table): canonically-equivalent text (composed
# é/ï/ü vs base char + combining mark — the copy-paste/OCR divergence)
# is byte-DIFFERENT, so hash-keyed dedup silently splits it; after NFC
# the planted composed/decomposed variant pairs (g = id%31 groups)
# collapse to one group each, with n_changed counting the decomposed
# members the pass actually rewrote.  Oracle replays via DuckDB's
# nfc_normalize over the same chr()-built decomposed strings.
# ---------------------------------------------------------------------------


def q280_nfc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import charset

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    g = (did % 31).cast("string")
    composed = F.concat(
        F.lit("café "), g, F.lit(" naïve ümlaut")
    )
    decomposed = F.concat(
        F.lit("cafe\u0301 "), g,
        F.lit(" nai\u0308ve u\u0308mlaut"),
    )
    text = F.when(did % 2 == 0, composed).otherwise(decomposed)
    planted = docs.select("doc_id", text.alias("text"))
    nfc = charset.nfc_normalize_table(planted)
    return (
        nfc.groupBy("text")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.sum(F.col("changed").cast("long")).alias("n_changed"),
        )
        .select("rep_doc_id", "n_dups", "n_changed")
    )


Q280_SQL = """
SELECT min(doc_id) AS rep_doc_id, count(*) AS n_dups,
       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed
FROM documents GROUP BY doc_id % 31
"""


# ---------------------------------------------------------------------------
# q281 — canonical-URL extraction (html_text.canonical_distributed →
# functions/url.py): pages DECLARE their canonical URL (rel=canonical
# / og:url), and crawl dedup trusts it over the fetch URL.  Plant:
# messy canonical targets (uppercase scheme/host, :80, utm params) and
# og:url absent on a third of docs; output the canonicalized dedup key
# next to the raw declaration.
# ---------------------------------------------------------------------------


def q281_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.functions import url as U
    from occupation_wage_etl_spark.sources import html_text

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    d = did.cast("string")
    page = F.concat(
        F.lit("<html><head>"
              "<link rel='canonical' href='HTTP://CANON"),
        (did % 13).cast("string"),
        F.lit(".EXAMPLE:80/p/"), d,
        F.lit("?utm_source=crawl'>"),
        F.when(
            did % 3 != 0,
            F.concat(
                F.lit("<meta property='og:url' content='http://og"),
                (did % 7).cast("string"),
                F.lit(".example/"), d, F.lit("'>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body><p>x</p></body></html>"),
    )
    pages = docs.select("doc_id", page.alias("html"))
    meta = html_text.canonical_distributed(pages)
    return meta.select(
        "doc_id",
        "canonical",
        U.canonicalize_url(F.col("canonical")).alias("canon_key"),
        "og_url",
    )


Q281_SQL = """
SELECT doc_id,
       'HTTP://CANON' || (doc_id % 13) || '.EXAMPLE:80/p/' || doc_id
         || '?utm_source=crawl' AS canonical,
       'http://canon' || (doc_id % 13) || '.example/p/' || doc_id
         AS canon_key,
       CASE WHEN doc_id % 3 != 0
            THEN 'http://og' || (doc_id % 7) || '.example/' || doc_id
       END AS og_url
FROM documents
"""


# ---------------------------------------------------------------------------
# q282 — DECLARED-charset honoring through the real crawl path: WARC
# response records carry `Content-Type: …; charset=…`; warc_payloads
# surfaces it; sniff_transcode(declared_col=…) runs the WHATWG
# precedence ladder (BOM > declared > <meta> prescan > byte
# heuristics) with strict-validation fall-through on lying labels.
# Rotation by doc_id % 10 plants: trusted utf-8 label; declared
# Shift_JIS; UNdeclared Shift_JIS (the new multi-byte byte-ladder
# rung); iso-8859-1 label (HTML5: = cp1252); a LYING utf-8 label over
# cp1252 bytes (falls through to the 0x80-0x9F rung); <meta
# charset=windows-1251> prescan with no transfer label; declared
# GB2312 (= gbk); declared EUC-KR; a LYING iso-8859-1 label over
# UTF-8 bytes (content-disproof rung, source declared-utf8); a
# vacuous utf-16 label over ASCII bytes (uncorroborated by the
# zero-byte pattern, falls through).  Odd docs additionally ride
# Content-Encoding: gzip, so the RFC 9110 decode → charset chain is
# composed under the oracle.  `source` audits which rung decided.
# ---------------------------------------------------------------------------


def _synth_declared_charset_warc(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    def _warc(did):
        m = did % 10
        if m == 0:
            raw = f"doc {did} plain".encode("utf-8")
            ct = "text/html; charset=utf-8"
        elif m == 1:
            raw = f"文書 {did} 日本語テスト".encode("shift_jis")
            ct = "text/html; charset=Shift_JIS"
        elif m == 2:
            raw = f"文書 {did} 日本語テスト".encode("shift_jis")
            ct = "text/plain"
        elif m == 3:
            raw = f"doc {did} café “quote”".encode("cp1252")
            ct = 'text/html; charset="iso-8859-1"'
        elif m == 4:
            raw = f"doc {did} café €".encode("cp1252")
            ct = "text/html; charset=utf-8"  # lying label
        elif m == 5:
            raw = (
                '<html><head><meta charset="windows-1251">'
                f"</head><body><p>документ {did}</p>"
                "</body></html>"
            ).encode("cp1251")
            ct = "text/html"
        elif m == 6:
            raw = f"文档 {did} 中文内容".encode("gbk")
            ct = "text/html; charset=GB2312"
        elif m == 7:
            raw = f"문서 {did} 한국어".encode("euc_kr")
            ct = "text/html; charset=EUC-KR"
        elif m == 8:
            # the classic lying crawl label: UTF-8 bytes served as
            # iso-8859-1 — content-disproof must win
            raw = f"doc {did} café “q”".encode("utf-8")
            ct = "text/html; charset=iso-8859-1"
        else:
            # vacuous utf-16 label over ASCII bytes — no NUL pattern
            # corroborates, so the ladder falls through
            raw = f"doc {did} utf16 lie".encode("utf-8")
            ct = "text/html; charset=utf-16"
        return warcmod.encode_warc_fixture(
            [
                {
                    "type": "response",
                    "uri": f"http://cs.example/{did}",
                    "status": 200,
                    "http_content_type": ct,
                    "payload": raw,
                    "content_encoding": "gzip" if did % 2 == 1 else None,
                }
            ],
            gzip_records=(did % 4 == 2),
            warcinfo=False,
        )

    return _doc_blobs(docs, _warc)


def q282_charset_declared(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import charset
    from occupation_wage_etl_spark.sources import warc as warcmod

    docs = _t(spark, sf_dir, "documents")
    pay = warcmod.warc_payloads(_synth_declared_charset_warc(docs))
    return charset.sniff_transcode(
        pay.select(
            "doc_id",
            F.col("payload").alias("content"),
            "http_content_type",
        ),
        declared_col="http_content_type",
    )


Q282_SQL = """
WITH t AS (
  SELECT doc_id, doc_id % 10 AS m,
         CASE doc_id % 10
           WHEN 0 THEN 'doc ' || doc_id || ' plain'
           WHEN 1 THEN '文書 ' || doc_id || ' 日本語テスト'
           WHEN 2 THEN '文書 ' || doc_id || ' 日本語テスト'
           WHEN 3 THEN 'doc ' || doc_id || ' café “quote”'
           WHEN 4 THEN 'doc ' || doc_id || ' café €'
           WHEN 5 THEN '<html><head><meta charset="windows-1251">'
                       || '</head><body><p>документ ' || doc_id
                       || '</p></body></html>'
           WHEN 6 THEN '文档 ' || doc_id || ' 中文内容'
           WHEN 7 THEN '문서 ' || doc_id || ' 한국어'
           WHEN 8 THEN 'doc ' || doc_id || ' café “q”'
           ELSE 'doc ' || doc_id || ' utf16 lie'
         END AS text
  FROM documents
)
SELECT doc_id,
       CASE m WHEN 0 THEN 'utf-8'
              WHEN 1 THEN 'shift_jis' WHEN 2 THEN 'shift_jis'
              WHEN 3 THEN 'windows-1252' WHEN 4 THEN 'windows-1252'
              WHEN 5 THEN 'cp1251' WHEN 6 THEN 'gbk'
              WHEN 7 THEN 'euc_kr'
              ELSE 'utf-8' END AS encoding,
       CASE m WHEN 2 THEN 'shift_jis' WHEN 4 THEN 'cp1252'
              WHEN 5 THEN 'meta'
              WHEN 8 THEN 'declared-utf8'
              WHEN 9 THEN 'utf8'
              ELSE 'declared' END AS source,
       FALSE AS had_bom,
       CAST(CASE m
         WHEN 0 THEN length(text)
         WHEN 1 THEN length(text) + 8
         WHEN 2 THEN length(text) + 8
         WHEN 3 THEN length(text)
         WHEN 4 THEN length(text)
         WHEN 5 THEN length(text)
         WHEN 6 THEN length(text) + 6
         WHEN 7 THEN length(text) + 5
         WHEN 8 THEN length(text) + 5
         ELSE length(text)
       END AS BIGINT) AS n_bytes,
       CAST(length(text) AS INT) AS n_chars,
       text
FROM t
"""


# ---------------------------------------------------------------------------
# q283 — RELATIVE-URL resolution in the web-graph edge table
# (html_text.links_distributed(url_col=…) → RFC 3986 §5 resolve): most
# in-content hrefs on real pages are relative, so the q275-style edge
# table misses the majority of edges until each href resolves against
# the document base (<base href> over fetch URL).  Plants all four
# reference shapes per page — path-relative, ../ climb,
# protocol-relative //host, and absolute passthrough — and a fifth of
# docs carry a <base href> that redirects resolution away from the
# fetch URL; the oracle states every resolved edge closed-form.
# ---------------------------------------------------------------------------


def q283_links_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import html_text

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    links = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda k: F.concat(
                F.lit("<a href='"),
                F.when(
                    k % 4 == 0,
                    F.concat(
                        F.lit("sub/p"),
                        ((did * 7 + k) % 101).cast("string"),
                        F.lit(".html"),
                    ),
                )
                .when(
                    k % 4 == 1,
                    F.concat(
                        F.lit("../up"),
                        ((did * 7 + k) % 101).cast("string"),
                    ),
                )
                .when(
                    k % 4 == 2,
                    F.concat(
                        F.lit("//cdn"),
                        ((did * 7 + k) % 11).cast("string"),
                        F.lit(".example/lib"),
                    ),
                )
                .otherwise(
                    F.concat(
                        F.lit("https://abs"),
                        ((did * 7 + k) % 13).cast("string"),
                        F.lit(".example/x"),
                    ),
                ),
                F.lit("'>ref "),
                k.cast("string"),
                F.lit("</a> "),
            ),
        ),
        "",
    )
    page = F.concat(
        F.lit("<html><head>"),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit("<base href='http://based"),
                (did % 4).cast("string"),
                F.lit(".example/root/sub/'>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body><nav><a href='/chrome'>menu</a></nav>"
              "<article><p>"),
        links,
        F.lit("</p></article></body></html>"),
    )
    fetch = F.concat(
        F.lit("http://site"), (did % 7).cast("string"),
        F.lit(".example/a/b/page"), did.cast("string"), F.lit(".html"),
    )
    pages = docs.select(
        "doc_id", page.alias("html"), fetch.alias("fetch_url")
    )
    return html_text.links_distributed(pages, url_col="fetch_url")


Q283_SQL = """
WITH l AS (
  SELECT doc_id, UNNEST(range(0, 4)) AS k FROM documents
), t AS (
  SELECT doc_id, k, (doc_id * 7 + k) % 101 AS n,
         doc_id % 5 = 0 AS has_base,
         'http://site' || (doc_id % 7) || '.example' AS site,
         'http://based' || (doc_id % 4) || '.example' AS bhost
  FROM l
)
SELECT doc_id, CAST(k AS INT) AS link_idx,
       CASE k % 4
         WHEN 0 THEN 'sub/p' || n || '.html'
         WHEN 1 THEN '../up' || n
         WHEN 2 THEN '//cdn' || ((doc_id * 7 + k) % 11) || '.example/lib'
         ELSE 'https://abs' || ((doc_id * 7 + k) % 13) || '.example/x'
       END AS href,
       CASE k % 4
         WHEN 0 THEN CASE WHEN has_base
                          THEN bhost || '/root/sub/'
                          ELSE site || '/a/b/' END
                     || 'sub/p' || n || '.html'
         WHEN 1 THEN CASE WHEN has_base
                          THEN bhost || '/root/up' || n
                          ELSE site || '/a/up' || n END
         WHEN 2 THEN 'http://cdn' || ((doc_id * 7 + k) % 11)
                     || '.example/lib'
         ELSE 'https://abs' || ((doc_id * 7 + k) % 13) || '.example/x'
       END AS url,
       'ref ' || k AS anchor_text
FROM t
"""


# ---------------------------------------------------------------------------
# q284 — relative rel=canonical / og:url resolution chained into the
# canonical dedup key (canonical_distributed(url_col=…) → resolve →
# functions/url.canonicalize_url): real pages routinely declare
# canonical as a root-relative or ../-relative reference, useless as a
# cross-site dedup key until resolved.  Plants root-relative, ../
# climb, and messy-absolute canonicals; a quarter of docs carry a
# RELATIVE <base href> (itself resolved against the fetch URL first,
# the HTML-spec two-step); og:url present on even docs only.
# ---------------------------------------------------------------------------


def q284_canonical_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.functions import url as U
    from occupation_wage_etl_spark.sources import html_text

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    d = did.cast("string")
    canonical = (
        F.when(
            did % 3 == 0,
            F.concat(F.lit("/p/"), d, F.lit("?utm_source=crawl")),
        )
        .when(did % 3 == 1, F.concat(F.lit("../c"), d))
        .otherwise(
            F.concat(
                F.lit("HTTP://CANON"), (did % 13).cast("string"),
                F.lit(".EXAMPLE:80/p/"), d,
            )
        )
    )
    page = F.concat(
        F.lit("<html><head>"),
        F.when(did % 4 == 1, F.lit("<base href='/basez/'>"))
         .otherwise(F.lit("")),
        F.lit("<link rel='canonical' href='"), canonical, F.lit("'>"),
        F.when(
            did % 2 == 0,
            F.concat(F.lit("<meta property='og:url' content='og/"),
                     d, F.lit("'>")),
        ).otherwise(F.lit("")),
        F.lit("</head><body><p>x</p></body></html>"),
    )
    fetch = F.concat(
        F.lit("http://host"), (did % 9).cast("string"),
        F.lit(".example/d1/d2/page"), d,
    )
    pages = docs.select(
        "doc_id", page.alias("html"), fetch.alias("fetch_url")
    )
    meta = html_text.canonical_distributed(pages, url_col="fetch_url")
    return meta.select(
        "doc_id",
        "canonical",
        "canonical_abs",
        U.canonicalize_url(F.col("canonical_abs")).alias("canon_key"),
        "og_url_abs",
    )


Q284_SQL = """
WITH t AS (
  SELECT doc_id,
         'http://host' || (doc_id % 9) || '.example' AS host,
         doc_id % 4 = 1 AS has_base
  FROM documents
), r AS (
  SELECT doc_id, host, has_base,
         CASE WHEN has_base THEN host || '/basez/'
              ELSE host || '/d1/d2/' END AS basedir,
         CASE doc_id % 3
           WHEN 0 THEN '/p/' || doc_id || '?utm_source=crawl'
           WHEN 1 THEN '../c' || doc_id
           ELSE 'HTTP://CANON' || (doc_id % 13) || '.EXAMPLE:80/p/'
                || doc_id
         END AS canonical,
         CASE doc_id % 3
           WHEN 0 THEN host || '/p/' || doc_id || '?utm_source=crawl'
           WHEN 1 THEN CASE WHEN has_base
                            THEN host || '/c' || doc_id
                            ELSE host || '/d1/c' || doc_id END
           ELSE 'HTTP://CANON' || (doc_id % 13) || '.EXAMPLE:80/p/'
                || doc_id
         END AS canonical_abs
  FROM t
)
SELECT doc_id, canonical, canonical_abs,
       CASE doc_id % 3
         WHEN 0 THEN host || '/p/' || doc_id
         WHEN 1 THEN CASE WHEN has_base
                          THEN host || '/c' || doc_id
                          ELSE host || '/d1/c' || doc_id END
         ELSE 'http://canon' || (doc_id % 13) || '.example/p/' || doc_id
       END AS canon_key,
       CASE WHEN doc_id % 2 = 0 THEN basedir || 'og/' || doc_id
       END AS og_url_abs
FROM r
"""


# ---------------------------------------------------------------------------
# q285 — gzipped sitemaps + sitemapindex→urlset chase
# (robots.sitemap_index_chase): at scale every large site's
# robots.txt names ONE <sitemapindex>, whose children are .xml.gz
# urlsets — the page URLs live one hop away.  Fixture: every third doc
# is a plain-XML index pointing at the NEXT TWO docs' sitemap URLs;
# the children are GZIPPED urlsets (deterministic mtime-0 members), so
# the gzip sniff, the binary-column path, and the two-bounded-equi-join
# bridge (pointer loc → corpus url → child entries) are all under one
# oracle; index docs at the corpus tail whose children don't exist
# drop out via the inner join, exactly like the SQL twin.
# ---------------------------------------------------------------------------


def _synth_sitemap_corpus(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources.warc import _gzip_member

    ns = "http://www.sitemaps.org/schemas/sitemap/0.9"

    def _make(did):
        url = f"http://sm.example/s{did}.xml"
        if did % 3 == 0:
            xml = (
                f'<sitemapindex xmlns="{ns}">'
                + "".join(
                    f"<sitemap><loc>http://sm.example/s{c}.xml"
                    "</loc></sitemap>"
                    for c in (did + 1, did + 2)
                )
                + "</sitemapindex>"
            )
            return [(did, url, xml.encode("utf-8"))]
        xml = (
            f'<urlset xmlns="{ns}">'
            + "".join(
                f"<url><loc>http://h{did % 5}.example/p{k}"
                f"</loc><priority>0.{(did + k) % 5 + 5}"
                "</priority></url>"
                for k in range(1 + did % 4)
            )
            + "</urlset>"
        )
        return [(did, url, _gzip_member(xml.encode("utf-8")))]

    return flat_map(
        docs, ["doc_id"], "doc_id long, url string, sitemap_xml binary",
        _make,
    )


def q285_sitemap_gz_chase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import robots

    docs = _t(spark, sf_dir, "documents")
    corpus = _synth_sitemap_corpus(docs)
    return robots.sitemap_index_chase(corpus).select(
        "root_id", "child_url", "ordinal", "loc", "priority"
    )


Q285_SQL = """
WITH kids AS (
  SELECT d.doc_id AS root_id, d.doc_id + o.off AS child_id
  FROM documents d, (VALUES (1), (2)) AS o(off)
  WHERE d.doc_id % 3 = 0
), ex AS (
  SELECT k.root_id, k.child_id
  FROM kids k JOIN documents c ON c.doc_id = k.child_id
), e AS (
  SELECT root_id, child_id,
         UNNEST(range(0, 1 + child_id % 4)) AS k
  FROM ex
)
SELECT root_id,
       'http://sm.example/s' || child_id || '.xml' AS child_url,
       CAST(k AS INT) AS ordinal,
       'http://h' || (child_id % 5) || '.example/p' || k AS loc,
       CAST('0.' || ((child_id + k) % 5 + 5) AS DOUBLE) AS priority
FROM e
"""


# ---------------------------------------------------------------------------
# q286 — robots.txt wildcard rules + case-insensitive agent groups
# (RFC 9309 §2.2.1/§2.2.3, the round-10 MUST closure): the fixture's
# 'WiLdBot' group carries '*'-span and '$'-anchor rules ('/*.pdf$',
# '/pub*.pdf$', '/tmp/*', '/exact$') and a '*' group disallows
# EVERYTHING — so if the case-insensitive exact-group selection for
# agent='wildbot' failed, every path would flip to disallowed.  Paths
# plant: wildcard-pdf deny, longer-pattern allow override, directory
# wildcard, $-anchored exact (with '/exactly' proving the anchor), and
# a no-match default-allow.  matched_len gates most-pattern-octets
# precedence.
# ---------------------------------------------------------------------------


def _synth_robots_wild(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    txt = F.concat(
        F.lit("User-agent: WiLdBot\n"),
        F.lit("Disallow: /*.pdf$\n"),
        F.lit("Allow: /pub*.pdf$\n"),
        F.lit("Disallow: /tmp/*\n"),
        F.lit("Disallow: /exact$\n\n"),
        F.lit("User-agent: *\nDisallow: /\n"),
        # doc-varying comment keeps the fixture per-doc like q271's
        F.lit("# site "), did.cast("string"), F.lit("\n"),
    )
    return docs.select("doc_id", txt.alias("robots_txt"))


def q286_robots_wildcards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import robots

    docs = _t(spark, sf_dir, "documents")
    rules = robots.robots_rules(_synth_robots_wild(docs))
    did = F.col("doc_id")
    urls = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(F.lit("/doc"), (did % 3).cast("string"),
                         F.lit(".pdf")),
                F.concat(F.lit("/pub"), (did % 5).cast("string"),
                         F.lit(".pdf")),
                F.concat(F.lit("/tmp/x"), (did % 2).cast("string")),
                F.lit("/exact"),
                F.lit("/exactly"),
                F.concat(F.lit("/ok"), (did % 7).cast("string")),
            )
        ).alias("path"),
    )
    return robots.robots_is_allowed(rules, urls, agent="wildbot")


Q286_SQL = """
SELECT doc_id, '/doc' || (doc_id % 3) || '.pdf' AS path,
       FALSE AS allowed, '/*.pdf$' AS matched_rule,
       CAST(7 AS INT) AS matched_len
FROM documents
UNION ALL
SELECT doc_id, '/pub' || (doc_id % 5) || '.pdf', TRUE,
       '/pub*.pdf$', CAST(10 AS INT)
FROM documents
UNION ALL
SELECT doc_id, '/tmp/x' || (doc_id % 2), FALSE, '/tmp/*',
       CAST(6 AS INT)
FROM documents
UNION ALL
SELECT doc_id, '/exact', FALSE, '/exact$', CAST(7 AS INT)
FROM documents
UNION ALL
SELECT doc_id, '/exactly', TRUE, CAST(NULL AS VARCHAR),
       CAST(NULL AS INT)
FROM documents
UNION ALL
SELECT doc_id, '/ok' || (doc_id % 7), TRUE, CAST(NULL AS VARCHAR),
       CAST(NULL AS INT)
FROM documents
"""


# ---------------------------------------------------------------------------
# q287 — the span-dedup FIXED POINT (dedup.span_dedup_passes): two
# bounded (repeated_tile_spans → cut-longest) rounds as ONE lazy DAG —
# q273's documented loop knob made concrete.  Plant: each doc is
# unique(u1) ‖ R1 (3 tiles, shared by g1=id%199) ‖ unique(u2) ‖ R2
# (2 tiles, shared by g2=id%151) ‖ unique(1 tile).  Pass 1 cuts each
# non-g1-min doc's R1 (the longest span) — and, for g1-min docs that
# are not g2-min, R2 (their only span); pass 2 then catches R2 on the
# docs whose pass-1 cut shadowed it.  Closed form: (g1min,g2min) →
# cut 0/1×32/1×48/2-pass 80 chars; the oracle reconstructs the FINAL
# post-surgery text per class and gates its md5, not just the
# arithmetic.  The group moduli SCALE with the corpus (ADVICE r10):
# m1 = max(199, ceil(n/25)), m2 = max(151, ceil(n/33)) — identical
# integer arithmetic on both engines — so plant-group sizes stay ≤25/33
# ≪ the df-cap 64 at EVERY sf and the oracle gate remains valid beyond
# sf0.1, keeping q270's 100 TB linearity guard.
# ---------------------------------------------------------------------------


def q287_span_dedup_fixed_point(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # parquet-metadata count, no scan
    m1 = max(199, (n_docs + 24) // 25)
    m2 = max(151, (n_docs + 32) // 33)
    did = F.col("doc_id")
    ds = did.cast("string")

    def tiles_of(prefix_expr, n_expr):
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_expr - F.lit(1)),
                lambda j: F.substring(
                    F.md5(F.concat(prefix_expr, j.cast("string"))), 1, 16
                ),
            ),
            "",
        )

    text = F.concat(
        tiles_of(F.concat(ds, F.lit("p")), (did % 3).cast("int") + F.lit(1)),
        tiles_of(
            F.concat(F.lit("g"), (did % m1).cast("string"), F.lit("m")),
            F.lit(3),
        ),
        tiles_of(F.concat(ds, F.lit("u")), (did % 2).cast("int") + F.lit(1)),
        tiles_of(
            F.concat(F.lit("h"), (did % m2).cast("string"), F.lit("m")),
            F.lit(2),
        ),
        tiles_of(F.concat(ds, F.lit("s")), F.lit(1)),
    )
    planted = docs.select("doc_id", text.alias("text"))
    return dedup.span_dedup_passes(planted, passes=2)


Q287_SQL = """
WITH params AS (
  SELECT greatest(199, (count(*) + 24) // 25) AS m1,
         greatest(151, (count(*) + 32) // 33) AS m2
  FROM documents
), seg AS (
  SELECT doc_id,
    array_to_string(list_transform(range(0, 1 + doc_id % 3),
      j -> substr(md5(doc_id || 'p' || j), 1, 16)), '') AS u1,
    array_to_string(list_transform(range(0, 3),
      j -> substr(md5('g' || (doc_id % m1) || 'm' || j), 1, 16)), '')
      AS r1,
    array_to_string(list_transform(range(0, 1 + doc_id % 2),
      j -> substr(md5(doc_id || 'u' || j), 1, 16)), '') AS u2,
    array_to_string(list_transform(range(0, 2),
      j -> substr(md5('h' || (doc_id % m2) || 'm' || j), 1, 16)), '')
      AS r2,
    substr(md5(doc_id || 's' || 0), 1, 16) AS u3,
    doc_id = min(doc_id) OVER (PARTITION BY doc_id % m1) AS g1min,
    doc_id = min(doc_id) OVER (PARTITION BY doc_id % m2) AS g2min
  FROM documents CROSS JOIN params
), fin AS (
  SELECT doc_id,
    u1 || r1 || u2 || r2 || u3 AS orig,
    CASE
      WHEN g1min AND g2min THEN u1 || r1 || u2 || r2 || u3
      WHEN g1min AND NOT g2min THEN u1 || r1 || u2 || u3
      WHEN NOT g1min AND g2min THEN u1 || u2 || r2 || u3
      ELSE u1 || u2 || u3
    END AS final,
    CASE
      WHEN g1min AND g2min THEN 0
      WHEN g1min AND NOT g2min THEN 32
      WHEN NOT g1min AND g2min THEN 48
      ELSE 80
    END AS cut_total,
    CASE
      WHEN g1min AND g2min THEN 0
      WHEN NOT g1min AND NOT g2min THEN 2
      ELSE 1
    END AS n_cuts
  FROM seg
)
SELECT doc_id,
       CAST(length(orig) AS BIGINT) AS n_before,
       CAST(length(final) AS BIGINT) AS n_after,
       CAST(cut_total AS BIGINT) AS cut_chars_total,
       CAST(n_cuts AS INT) AS n_cuts,
       md5(final) AS new_text_md5
FROM fin
"""


# ---------------------------------------------------------------------------
# q288 — WARC revisit-record resolution (warc.revisit_resolve): the
# Common Crawl dedup contract — a recrawled unchanged page is stored
# as a `revisit` record carrying only the payload digest; consumers
# must join back to the response record that holds the bytes.  Every
# doc's archive has a revisit keyed by its group digest (g=id%19);
# only docs ≡0 (mod 3) also store the original response — so the
# resolver's global digest join + min-(id,rec_idx) pick is fully
# closed-form, and revisits whose group never stored an original drop
# out of BOTH engines via the same inner join.
# ---------------------------------------------------------------------------


def _synth_revisit_warc(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    def _warc(did):
        g = did % 19
        digest = f"sha1:G{g}DIGESTVALUE"
        recs = []
        if did % 3 == 0:
            recs.append(
                {
                    "type": "response",
                    "uri": f"http://o.example/{did}",
                    "status": 200,
                    "payload": f"content g{g}".encode(),
                    "payload_digest": digest,
                }
            )
        recs.append(
            {
                "type": "revisit",
                "uri": f"http://r.example/{did}",
                "payload_digest": digest,
                "warc_headers": {
                    "WARC-Refers-To": "<urn:uuid:prior>",
                    "WARC-Profile": (
                        "http://netpreserve.org/warc/1.1/"
                        "revisit/identical-payload-digest"
                    ),
                },
                "body": b"",
            }
        )
        return warcmod.encode_warc_fixture(
            recs, gzip_records=(did % 2 == 0), warcinfo=False
        )

    return _doc_blobs(docs, _warc)


def q288_revisit_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    docs = _t(spark, sf_dir, "documents")
    rec = warcmod.warc_records(_synth_revisit_warc(docs))
    return warcmod.revisit_resolve(rec)


Q288_SQL = """
WITH orig AS (
  SELECT doc_id % 19 AS g, min(doc_id) AS oid
  FROM documents WHERE doc_id % 3 = 0 GROUP BY doc_id % 19
)
SELECT d.doc_id,
       CAST(CASE WHEN d.doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
         AS rec_idx,
       'http://r.example/' || d.doc_id AS target_uri,
       'sha1:G' || (d.doc_id % 19) || 'DIGESTVALUE' AS payload_digest,
       o.oid AS orig_id,
       CAST(0 AS INT) AS orig_rec_idx,
       'http://o.example/' || o.oid AS orig_uri
FROM documents d JOIN orig o ON o.g = d.doc_id % 19
"""


# ---------------------------------------------------------------------------
# q289 — HTTP redirect chains (warc.warc_redirects →
# redirect_final_url): 3xx Location headers (planted ROOT-RELATIVE,
# resolved RFC 3986-style against each record's WARC-Target-URI) form
# edges p/{id} → p/{id-1} within each 4-doc group; the bounded k-hop
# chase (max_hops joins, a DAG — no driver iteration) resolves every
# source to the group head p/{id - id%4} in exactly id%4 hops, and the
# head has no outgoing edge so every chain reads resolved.
# ---------------------------------------------------------------------------


def _synth_redirect_warc(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    def _warc(did):
        host = f"c{(did - did % 4) % 7}"
        if did % 4 != 0:
            spec = {
                "type": "response",
                "uri": f"http://{host}.example/p/{did}",
                "status": 301,
                "location": f"/p/{did - 1}",
                "payload": b"",
            }
        else:
            spec = {
                "type": "response",
                "uri": f"http://{host}.example/p/{did}",
                "status": 200,
                "payload": b"final",
            }
        return warcmod.encode_warc_fixture(
            [spec], gzip_records=(did % 2 == 1), warcinfo=False
        )

    return _doc_blobs(docs, _warc)


def q289_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    docs = _t(spark, sf_dir, "documents")
    edges = warcmod.warc_redirects(_synth_redirect_warc(docs))
    return warcmod.redirect_final_url(
        edges, src_col="from_uri", dst_col="location_abs", max_hops=4
    )


Q289_SQL = """
WITH t AS (
  SELECT doc_id AS d, doc_id - doc_id % 4 AS h,
         (doc_id - doc_id % 4) % 7 AS c
  FROM documents WHERE doc_id % 4 != 0
)
SELECT 'http://c' || c || '.example/p/' || d AS src,
       'http://c' || c || '.example/p/' || h AS final_url,
       CAST(d % 4 AS INT) AS n_hops,
       TRUE AS resolved
FROM t
"""


# ---------------------------------------------------------------------------
# q290 — WARC payload-digest verification (warc.warc_digest_check):
# archive integrity audit — recompute sha1-base32 over the DECODED
# payload (the module's digest contract) and compare against the
# declared WARC-Payload-Digest.  Plants: record 0 rides
# Content-Encoding: gzip with a REAL digest of the pre-encoding bytes
# (so the decode→digest composition is what passes), record 1 rotates
# real/corrupted digests by (id+1)%2, and every fifth doc adds an
# md5-labelled digest the checker must report as NULL (unsupported
# algo), not false.
# ---------------------------------------------------------------------------


def _synth_digest_warc(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    def _warc(did):
        recs = [
            {
                "type": "response",
                "uri": f"http://d.example/{did}/0",
                "payload": f"body {did} zero".encode(),
                "payload_digest": True,
                "content_encoding": "gzip",
            },
            {
                "type": "response",
                "uri": f"http://d.example/{did}/1",
                "payload": f"body {did} one".encode(),
                "payload_digest": (
                    True if (did + 1) % 2 == 0 else "sha1:" + "A" * 32
                ),
            },
        ]
        if did % 5 == 0:
            recs.append(
                {
                    "type": "response",
                    "uri": f"http://d.example/{did}/2",
                    "payload": b"legacy",
                    "payload_digest": "md5:ffffffffffffffff",
                }
            )
        return warcmod.encode_warc_fixture(
            recs, gzip_records=(did % 3 == 0), warcinfo=False
        )

    return _doc_blobs(docs, _warc)


def q290_digest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    docs = _t(spark, sf_dir, "documents")
    return warcmod.warc_digest_check(_synth_digest_warc(docs))


Q290_SQL = """
SELECT doc_id, CAST(0 AS INT) AS rec_idx,
       'http://d.example/' || doc_id || '/0' AS target_uri,
       'sha1' AS digest_algo, TRUE AS digest_ok
FROM documents
UNION ALL
SELECT doc_id, CAST(1 AS INT),
       'http://d.example/' || doc_id || '/1',
       'sha1', (doc_id + 1) % 2 = 0
FROM documents
UNION ALL
SELECT doc_id, CAST(2 AS INT),
       'http://d.example/' || doc_id || '/2',
       'md5', CAST(NULL AS BOOLEAN)
FROM documents WHERE doc_id % 5 = 0
"""


# ---------------------------------------------------------------------------
# q291 — registrable-domain (eTLD+1) rollup (functions/url.py:
# registrable_domain): domain caps and politeness budgets at corpus
# scale group by the REGISTRABLE domain, not the raw host (www/m/cdn
# subdomains of one site must share a budget).  Pure codegen: host
# extraction + the embedded second-level-suffix table (co.uk/com.au/…
# keep three labels), then one hash-aggregate.  URLs rotate tlds
# through both suffix classes plus subdomain variety so the grouping
# is the thing under test.
# ---------------------------------------------------------------------------


def q291_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.functions import url as U

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = lambda k: F.concat(  # noqa: E731
        F.lit("http://sub"), ((did + k) % 5).cast("string"),
        F.lit(".site"), ((did * 3 + k) % 37).cast("string"),
        F.lit("."),
        F.element_at(
            F.array(F.lit("com"), F.lit("co.uk"), F.lit("org"),
                    F.lit("com.au")),
            ((did + k) % 4).cast("int") + 1,
        ),
        F.lit("/p/"), did.cast("string"), F.lit("/"), k.cast("string"),
    )
    urls = docs.select(
        "doc_id",
        F.explode(F.array(url(F.lit(0)), url(F.lit(1)), url(F.lit(2))))
        .alias("url"),
    )
    return (
        urls.select(
            U.registrable_domain(F.col("url")).alias("domain"),
            U.url_host(F.col("url")).alias("host"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


Q291_SQL = """
WITH l AS (
  SELECT doc_id, UNNEST(range(0, 3)) AS k FROM documents
), u AS (
  SELECT 'site' || ((doc_id * 3 + k) % 37) || '.' ||
           (['com', 'co.uk', 'org', 'com.au'])[((doc_id + k) % 4) + 1]
           AS domain,
         'sub' || ((doc_id + k) % 5) || '.site' ||
           ((doc_id * 3 + k) % 37) || '.' ||
           (['com', 'co.uk', 'org', 'com.au'])[((doc_id + k) % 4) + 1]
           AS host
  FROM l
)
SELECT domain, count(*) AS n_urls, count(DISTINCT host) AS n_hosts
FROM u GROUP BY domain
"""


# ---------------------------------------------------------------------------
# q292 — page head metadata (html_text.page_meta_distributed): title
# (whitespace-collapsed, FIRST title wins) + meta description + the
# canonical declaration in one scan-side pass — the display/snippet
# fields every search & curation pipeline keeps per page.  Plants
# multi-whitespace titles, a decoy second title, and description on
# two-thirds of docs.
# ---------------------------------------------------------------------------


def q292_page_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import html_text

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    d = did.cast("string")
    page = F.concat(
        F.lit("<html><head><title>  Page\t"), d,
        F.lit("\n of  site "), (did % 13).cast("string"),
        F.lit(" </title><title>decoy</title>"),
        F.when(
            did % 3 != 0,
            F.concat(F.lit("<meta name='description' content='Doc "),
                     d, F.lit(" summary'>")),
        ).otherwise(F.lit("")),
        F.lit("<link rel='canonical' href='http://c"),
        (did % 7).cast("string"), F.lit(".example/"), d,
        F.lit("'></head><body><p>x</p></body></html>"),
    )
    pages = docs.select("doc_id", page.alias("html"))
    return html_text.page_meta_distributed(pages).select(
        "doc_id", "title", "description", "canonical"
    )


Q292_SQL = """
SELECT doc_id,
       'Page ' || doc_id || ' of site ' || (doc_id % 13) AS title,
       CASE WHEN doc_id % 3 != 0
            THEN 'Doc ' || doc_id || ' summary' END AS description,
       'http://c' || (doc_id % 7) || '.example/' || doc_id AS canonical
FROM documents
"""


# ---------------------------------------------------------------------------
# q293 — anchor-text rollup per canonical link target: the classic
# web-graph relevance signal (what OTHER pages call a URL).  Chains
# the q275 edge extractor → URL canonicalization → one hash-aggregate
# keyed by the canonical target: in-link count, distinct source docs,
# lexicographically-first anchor (deterministic representative).
# ---------------------------------------------------------------------------


def q293_anchor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.functions import url as U
    from occupation_wage_etl_spark.sources import html_text

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    links = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (did % 3).cast("int") + F.lit(1)),
            lambda k: F.concat(
                F.lit("<a href='HTTP://T"),
                ((did * 7 + k) % 101).cast("string"),
                F.lit(".EXAMPLE:80/p?utm_source=x'>anchor "),
                ((did + k) % 6).cast("string"),
                F.lit("</a> "),
            ),
        ),
        "",
    )
    page = F.concat(
        F.lit("<html><body><article><p>"), links,
        F.lit("</p></article></body></html>"),
    )
    pages = docs.select("doc_id", page.alias("html"))
    edges = html_text.links_distributed(pages)
    return (
        edges.select(
            "doc_id",
            U.canonicalize_url(F.col("href")).alias("target"),
            "anchor_text",
        )
        .groupBy("target")
        .agg(
            F.count(F.lit(1)).alias("n_inlinks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("anchor_text").alias("top_anchor"),
        )
    )


Q293_SQL = """
WITH l AS (
  SELECT doc_id, UNNEST(range(0, 2 + doc_id % 3)) AS k FROM documents
), e AS (
  SELECT doc_id,
         'http://t' || ((doc_id * 7 + k) % 101) || '.example/p'
           AS target,
         'anchor ' || ((doc_id + k) % 6) AS anchor_text
  FROM l
)
SELECT target, count(*) AS n_inlinks,
       count(DISTINCT doc_id) AS n_docs,
       min(anchor_text) AS top_anchor
FROM e GROUP BY target
"""


# ---------------------------------------------------------------------------
# q294 — mixed-encoding URL collapse (functions/url.canonicalize_url
# percent rung + with_idn_canonical_url): the round-10 verdict's top
# ask made concrete.  Each doc emits THREE spellings of one logical
# URL — Unicode host + %7E/%3a escapes + utm decoration; uppercase
# Unicode host + default port + fragment; punycode host + lowercase
# hex — which must collapse to ONE canonical key
# (http://xn--…example/~u<id>/p?x=%3A&id=<id>).  Without the percent
# and IDN rungs the dedup/graph key silently splits 3-ways, exactly
# as q280's NFC case did for text.  The oracle states the collapsed
# key and the collapse arithmetic closed-form.
# ---------------------------------------------------------------------------


def q294_url_mixed_encoding_collapse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from occupation_wage_etl_spark.functions import url as U

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ds = did.cast("string")
    m = (did % 3).cast("int")
    uni = F.element_at(
        F.array(F.lit("münchen"), F.lit("bücher"), F.lit("café")), m + 1
    )
    uni_up = F.element_at(
        F.array(F.lit("MÜNCHEN"), F.lit("BÜCHER"), F.lit("CAFÉ")), m + 1
    )
    puny = F.element_at(
        F.array(
            F.lit("xn--mnchen-3ya"),
            F.lit("xn--bcher-kva"),
            F.lit("xn--caf-dma"),
        ),
        m + 1,
    )
    tail_lo = F.concat(F.lit("/%7eu"), ds, F.lit("/p?x=%3a&id="), ds)
    v0 = F.concat(
        F.lit("http://"), uni, F.lit(".example"), tail_lo,
        F.lit("&utm_source=t"),
    )
    v1 = F.concat(
        F.lit("HTTP://"), uni_up, F.lit(".example:80/~u"), ds,
        F.lit("/p?x=%3A&id="), ds, F.lit("#frag"),
    )
    v2 = F.concat(F.lit("http://"), puny, F.lit(".example"), tail_lo)
    raw = docs.select(
        "doc_id", F.explode(F.array(v0, v1, v2)).alias("raw_url")
    )
    canon = raw.select(
        "doc_id", U.canonicalize_url(F.col("raw_url")).alias("u")
    )
    canon = U.with_idn_canonical_url(canon, "u")
    return canon.groupBy("doc_id").agg(
        F.min("u").alias("canon_url"),
        F.count(F.lit(1)).alias("n_variants"),
        F.countDistinct("u").alias("n_canon"),
    )


Q294_SQL = """
SELECT doc_id,
       'http://' ||
       CASE doc_id % 3
         WHEN 0 THEN 'xn--mnchen-3ya'
         WHEN 1 THEN 'xn--bcher-kva'
         ELSE 'xn--caf-dma'
       END || '.example/~u' || doc_id || '/p?x=%3A&id=' || doc_id
         AS canon_url,
       CAST(3 AS BIGINT) AS n_variants,
       CAST(1 AS BIGINT) AS n_canon
FROM documents
"""


# ---------------------------------------------------------------------------
# q295 — CDX URL-index lookup + offset-addressed fetch (sources/
# cdx.py): the cc-index contract end-to-end.  Each doc's archive
# (member-per-record gzip, the Common Crawl layout) holds 3 response
# records on host h(id%23).example with PLANTED digests; the CDXJ
# index — built from encode_warc_fixture_indexed's ground-truth byte
# extents — carries one line per record.  The query runs the real
# consumer path: parse CDXJ (codegen from_json) → SURT host-prefix
# lookup (pushable StartsWith, 'example,h7)') → join back to the
# archive catalog by filename → parse ONE record at
# content[offset:offset+length].  Work is O(matched rows), never a
# full-archive scan; the oracle states every fetched field
# closed-form, proving the offsets addressed the right records.
# ---------------------------------------------------------------------------


def _synth_cdx_archives(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import cdx as cdxmod
    from occupation_wage_etl_spark.sources import warc as warcmod

    def _make(did):
        g = did % 23
        fname = f"arc{did}.warc.gz"
        recs = [
            {
                "type": "response",
                "uri": f"http://h{g}.example/d{did}/r{k}",
                "status": 200,
                "payload": f"payload {did} r{k}".encode(),
                "payload_digest": f"sha1:D{did}R{k}",
            }
            for k in range(3)
        ]
        data, extents = warcmod.encode_warc_fixture_indexed(
            recs, gzip_records=True, warcinfo=False
        )
        lines = [
            cdxmod.format_cdxj_line(
                f"http://h{g}.example/d{did}/r{k}",
                "20240101000000",
                digest=f"sha1:D{did}R{k}",
                length=extents[k][1],
                offset=extents[k][0],
                filename=fname,
            )
            for k in range(3)
        ]
        return [(did, fname, data, lines)]

    return flat_map(
        docs, ["doc_id"],
        "doc_id long, filename string, content binary, lines array<string>",
        _make,
    )


def q295_cdx_lookup_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import cdx as cdxmod

    docs = _t(spark, sf_dir, "documents")
    # Both the index side (exploded lines) and the archive side
    # (filename, content) read the same synthesized archives; persist
    # the synth ONCE so its Python fixture pass doesn't run twice
    # (guide §2.4).
    synth = cached(_synth_cdx_archives(docs))
    idx = cdxmod.cdx_records(
        synth.select(F.explode("lines").alias("line")), "line"
    )
    hits = cdxmod.cdx_prefix_lookup(idx, "example,h7)")
    fetched = cdxmod.cdx_fetch(
        hits, synth.select("filename", "content")
    )
    return fetched.select(
        F.regexp_extract("filename", r"arc(\d+)\.", 1)
        .cast("long")
        .alias("doc_id"),
        "surt_key",
        "cdx_timestamp",
        "url",
        "status",
        "digest",
        "rec_type",
        "rec_uri",
        "rec_status",
        "rec_digest",
        "payload_text",
    )


Q295_SQL = """
WITH sel AS (
  SELECT doc_id, UNNEST(range(0, 3)) AS k
  FROM documents WHERE doc_id % 23 = 7
)
SELECT doc_id,
       'example,h7)/d' || doc_id || '/r' || k AS surt_key,
       '20240101000000' AS cdx_timestamp,
       'http://h7.example/d' || doc_id || '/r' || k AS url,
       CAST(200 AS INT) AS status,
       'sha1:D' || doc_id || 'R' || k AS digest,
       'response' AS rec_type,
       'http://h7.example/d' || doc_id || '/r' || k AS rec_uri,
       CAST(200 AS INT) AS rec_status,
       'sha1:D' || doc_id || 'R' || k AS rec_digest,
       'payload ' || doc_id || ' r' || k AS payload_text
FROM sel
"""


# ---------------------------------------------------------------------------
# q296 — per-domain politeness budget (robots.crawl_delay +
# robots.crawl_budget): the frontier-scheduling aggregate — robots
# allow eval (q272/q286) × Crawl-delay × eTLD+1 rollup (q291) in one
# hash-agg.  Hosts rotate 4 robots shapes: exact-agent group WITH
# delay 2 (beats the * group's 9 — exclusive selection); * group
# delay 5; no delay line (fleet default 1.0); exact-agent group
# WITHOUT delay + * delay 7 (exclusive selection: * must NOT leak →
# default 1.0).  Each host contributes 3 frontier URLs with 2 or 3
# allowed by the same group selection; domains (site<id%11>.example)
# mix all 4 shapes, so delay_s = max = 5.0 once a domain has an m=1
# host, and the 60 s window cap forces real deferrals at sf0.01+.
# ---------------------------------------------------------------------------


def q296_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import robots

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ds = did.cast("string")
    m = (did % 4).cast("int")
    robots_txt = (
        F.when(
            m == 0,
            F.lit(
                "User-agent: wildbot\nCrawl-delay: 2\n"
                "Disallow: /private\n\n"
                "User-agent: *\nCrawl-delay: 9\nDisallow: /tmp\n"
            ),
        )
        .when(
            m == 1,
            F.lit("User-agent: *\nCrawl-delay: 5\nDisallow: /tmp\n"),
        )
        .when(m == 2, F.lit("User-agent: *\nDisallow: /x\n"))
        .otherwise(
            F.lit(
                "User-agent: wildbot\nDisallow: /private\n\n"
                "User-agent: *\nCrawl-delay: 7\nDisallow: /tmp\n"
            )
        )
    )
    rules = robots.robots_rules(
        docs.select("doc_id", robots_txt.alias("robots_txt"))
    )
    host = F.concat(
        F.lit("h"), ds, F.lit(".site"), (did % 11).cast("string"),
        F.lit(".example"),
    )
    frontier = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(F.lit("http://"), host, F.lit("/private/a")),
                F.concat(F.lit("http://"), host, F.lit("/public/b")),
                F.concat(F.lit("http://"), host, F.lit("/tmp/c")),
            )
        ).alias("url"),
    )
    return robots.crawl_budget(
        rules, frontier, agent="wildbot", window_seconds=60,
        default_delay=1.0,
    )


Q296_SQL = """
WITH h AS (
  SELECT doc_id,
         'site' || (doc_id % 11) || '.example' AS domain,
         CAST(CASE doc_id % 4
           WHEN 0 THEN 2.0 WHEN 1 THEN 5.0 ELSE 1.0
         END AS DOUBLE) AS delay,
         -- m0: exact group disallows /private -> 2 of 3 allowed
         -- m1: * group disallows /tmp -> 2; m2: /x matches none -> 3
         -- m3: exact group disallows /private -> 2
         CASE doc_id % 4 WHEN 2 THEN 3 ELSE 2 END AS n_allow
  FROM documents
)
SELECT domain,
       count(*) AS n_hosts,
       3 * count(*) AS n_urls,
       CAST(sum(n_allow) AS BIGINT) AS n_allowed,
       max(delay) AS delay_s,
       CAST(floor(60.0 / max(delay)) AS BIGINT) AS window_cap,
       least(CAST(sum(n_allow) AS BIGINT),
             CAST(floor(60.0 / max(delay)) AS BIGINT)) AS n_scheduled,
       CAST(sum(n_allow) AS BIGINT)
         - least(CAST(sum(n_allow) AS BIGINT),
                 CAST(floor(60.0 / max(delay)) AS BIGINT))
         AS n_deferred
FROM h GROUP BY domain
"""


# ---------------------------------------------------------------------------
# q297 — sitemap extension namespaces (robots.
# sitemap_extension_entries): the <image:image>/<news:news> children
# real sitemaps attach to <url> entries (Google sitemap-image 1.1 /
# sitemap-news 0.9), parsed into one typed long-form table.  Each
# doc's urlset has a page with TWO image entries (loc/title/caption)
# and a page with ONE news entry (publication name/language/date +
# title); the oracle states all three rows closed-form.
# ---------------------------------------------------------------------------


def q297_sitemap_extensions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from occupation_wage_etl_spark.operators import robots

    docs = _t(spark, sf_dir, "documents")
    ds = F.col("doc_id").cast("string")
    img_entry = lambda j: F.concat(  # noqa: E731
        F.lit("<image:image><image:loc>http://img.example/"),
        ds, F.lit(f"/i{j}.png</image:loc>"),
        F.lit(f"<image:title>img "), ds, F.lit(f" {j}</image:title>"),
        F.lit(f"<image:caption>cap {j}</image:caption></image:image>"),
    )
    news_entry = F.concat(
        F.lit("<news:news><news:publication><news:name>pub"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("</news:name><news:language>en</news:language>"),
        F.lit("</news:publication><news:publication_date>"),
        F.lit("2024-02-0"), ((F.col("doc_id") % 7) + 1).cast("string"),
        F.lit("</news:publication_date><news:title>news "),
        ds, F.lit("</news:title></news:news>"),
    )
    xml = F.concat(
        F.lit(
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9" '
            'xmlns:image="http://www.google.com/schemas/sitemap-image/1.1" '
            'xmlns:news="http://www.google.com/schemas/sitemap-news/0.9">'
        ),
        F.lit("<url><loc>http://s"), ds, F.lit(".example/p0</loc>"),
        img_entry(0), img_entry(1), F.lit("</url>"),
        F.lit("<url><loc>http://s"), ds, F.lit(".example/p1</loc>"),
        news_entry, F.lit("</url></urlset>"),
    )
    return robots.sitemap_extension_entries(
        docs.select("doc_id", xml.alias("sitemap_xml"))
    )


Q297_SQL = """
WITH im AS (
  SELECT doc_id, UNNEST(range(0, 2)) AS j FROM documents
)
SELECT doc_id, CAST(0 AS INT) AS ordinal,
       'http://s' || doc_id || '.example/p0' AS page_loc,
       'image' AS ext_kind, CAST(j AS INT) AS ext_ordinal,
       'http://img.example/' || doc_id || '/i' || j || '.png' AS loc,
       'img ' || doc_id || ' ' || j AS title,
       'cap ' || j AS caption,
       CAST(NULL AS VARCHAR) AS publication_name,
       CAST(NULL AS VARCHAR) AS publication_language,
       CAST(NULL AS VARCHAR) AS publication_date
FROM im
UNION ALL
SELECT doc_id, CAST(1 AS INT), 'http://s' || doc_id || '.example/p1',
       'news', CAST(0 AS INT), CAST(NULL AS VARCHAR),
       'news ' || doc_id, CAST(NULL AS VARCHAR),
       'pub' || (doc_id % 5), 'en',
       '2024-02-0' || (doc_id % 7 + 1)
FROM documents
"""


# ---------------------------------------------------------------------------
# q298 — PDF simple-font ENCODINGS (sources/pdf._simple_font_map):
# the non-ToUnicode half of real PDFs.  Rotation by doc_id % 3 plants
# /WinAnsiEncoding (cp1252 bytes incl. the 0x80–0x9F smart-quote/€
# range), /MacRomanEncoding (a genuinely different byte table for the
# same chars), and an encoding DICT with /BaseEncoding /WinAnsi +
# /Differences remapping codes 200–203 to Euro/eacute/endash/uni0142
# glyph names (é and ł ride the remapped codes; the AGL-subset and
# uniXXXX rules both fire).  extract_pdf_text must return
# byte-identical text for all three — the oracle states it
# closed-form.  Decode stays scan-side flat_map, zero shuffles.
# ---------------------------------------------------------------------------


def _synth_pdf_encodings(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import pdf as pdfmod

    def _pdf(did):
        m = did % 3
        lines = [f"doc {did} café price"]
        if m == 0:
            lines.append(f"win — “q” €{did % 9}")
            return pdfmod.encode_pdf_fixture(
                [lines], simple_encoding="WinAnsiEncoding"
            )
        if m == 1:
            lines.append(f"mac — “q” €{did % 9}")
            return pdfmod.encode_pdf_fixture(
                [lines], simple_encoding="MacRomanEncoding"
            )
        lines.append("diff é€ł –")
        return pdfmod.encode_pdf_fixture(
            [lines],
            simple_encoding="WinAnsiEncoding",
            differences={
                200: "Euro",
                201: "eacute",
                202: "endash",
                203: "uni0142",
            },
        )

    return _doc_blobs(docs, _pdf)


def q298_pdf_font_encodings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from occupation_wage_etl_spark.sources import pdf as pdfmod

    docs = _t(spark, sf_dir, "documents")
    return pdfmod.pdf_text(_synth_pdf_encodings(docs))


Q298_SQL = """
WITH t AS (
  SELECT doc_id,
         'doc ' || doc_id || ' café price' || chr(10) ||
         CASE doc_id % 3
           WHEN 0 THEN 'win — “q” €' || (doc_id % 9)
           WHEN 1 THEN 'mac — “q” €' || (doc_id % 9)
           ELSE 'diff é€ł –'
         END AS text
  FROM documents
)
SELECT doc_id, CAST(1 AS INT) AS page,
       CAST(length(text) AS INT) AS n_chars, text
FROM t
"""


# ---------------------------------------------------------------------------
# q299 — language-ID accuracy AUDIT (text_analysis.lang_id_table with
# the new script rung): the audited-vs-truth pattern of q235/q242
# applied to lang-ID.  A 12-class multilingual plant with KNOWN labels
# — long Latin text per stopword language, romanized + ideographic zh,
# kana ja, hangul ko, cyrillic ru, arabic ar (the script rung's new
# coverage), plus two DELIBERATE short-text failure classes ('le
# monde' → und tie, 'de la' → es family confusion) — and the output is
# the full confusion matrix (true_lang, pred_lang, n_docs), stated
# closed-form by the oracle.  Measured operating point: 10/12 classes
# exact; short Latin text degrades exactly as documented (COVERAGE.md).
# ---------------------------------------------------------------------------

_LANGID_PLANT = [
    # (true_lang, expected_pred, text)
    ("en", "en", "the cat and the dog of the house to go in time is "
                 "that good for all with a plan"),
    ("es", "es", "el perro la casa de que y en los se por un dia"),
    ("de", "de", "der hund die katze und das haus ist von mit den "
                 "nicht ein"),
    ("fr", "fr", "le chat et les chiens des maisons en un jour du "
                 "pays que la vie est belle"),
    ("zh", "zh", "de shi bu le zai ren you wo ta zhe"),
    ("zh", "zh", "的是不了在人有我他这 中文文本"),
    ("ja", "ja", "これは日本語のテキストです かな"),
    ("ko", "ko", "안녕하세요 세계 한국어 텍스트"),
    ("ru", "ru", "привет мир это русский текст"),
    ("ar", "ar", "مرحبا بالعالم هذا نص عربي"),
    ("fr", "und", "le monde"),   # tie fr/zh -> und (short-text bound)
    ("fr", "es", "de la"),       # es family confusion (short-text bound)
]


def q299_langid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import text_analysis

    docs = _t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 12).cast("int")
    text = F.element_at(
        F.array(*[F.lit(t) for _, _, t in _LANGID_PLANT]), m + 1
    )
    planted = docs.select("doc_id", text.alias("text"))
    preds = text_analysis.lang_id_table(planted, script_rung=True)
    truth = F.element_at(
        F.array(*[F.lit(tl) for tl, _, _ in _LANGID_PLANT]),
        ((F.col("doc_id") % 12) + 1).cast("int"),
    )
    return (
        preds.select(truth.alias("true_lang"), "pred_lang")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


Q299_SQL = """
WITH c AS (
  SELECT doc_id % 12 AS m, count(*) AS n FROM documents GROUP BY 1
), map AS (
  SELECT * FROM (VALUES
    (0,'en','en'),(1,'es','es'),(2,'de','de'),(3,'fr','fr'),
    (4,'zh','zh'),(5,'zh','zh'),(6,'ja','ja'),(7,'ko','ko'),
    (8,'ru','ru'),(9,'ar','ar'),(10,'fr','und'),(11,'fr','es')
  ) AS t(m, true_lang, pred_lang)
)
SELECT true_lang, pred_lang, CAST(sum(n) AS BIGINT) AS n_docs
FROM map JOIN c USING (m)
GROUP BY true_lang, pred_lang
"""


# ---------------------------------------------------------------------------
# q300 — CDX index BUILD → fetch roundtrip (cdx.cdx_build): the writer
# side of the cc-index contract.  The index is built from the q295
# archives themselves — gzip member boundaries tracked in STORED space
# give each record's (offset, length) — then the SAME host-prefix
# lookup + offset-addressed fetch must reproduce q295's closed-form
# output exactly.  Wrong extents cannot pass: a mis-addressed slice
# either fails the record parse or fetches the wrong payload text.
# ---------------------------------------------------------------------------


def q300_cdx_build_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from occupation_wage_etl_spark.sources import cdx as cdxmod

    docs = _t(spark, sf_dir, "documents")
    # cdx_build and cdx_fetch both scan the archives; persist the
    # Python synth pass once (guide §2.4).
    synth = cached(_synth_cdx_archives(docs))
    archives = synth.select("filename", "content")
    idx = cdxmod.cdx_build(archives)
    hits = cdxmod.cdx_prefix_lookup(idx, "example,h7)")
    fetched = cdxmod.cdx_fetch(hits, archives)
    return fetched.select(
        F.regexp_extract("filename", r"arc(\d+)\.", 1)
        .cast("long")
        .alias("doc_id"),
        "surt_key",
        "cdx_timestamp",
        "url",
        "status",
        "digest",
        "rec_type",
        "rec_uri",
        "rec_status",
        "rec_digest",
        "payload_text",
    )


Q300_SQL = Q295_SQL


# ---------------------------------------------------------------------------
# q301 — latest-capture dedup over a CDX index (struct-max per SURT
# key): the standard "one snapshot per URL" consumer query — a
# recrawled page appears once per capture in the index, and training
# corpora keep the newest.  Each doc's URL is planted with THREE
# captures (out of timestamp order in the input); ONE hash-agg keyed
# by surt_key picks the max-(timestamp,digest) struct.
# ---------------------------------------------------------------------------


def q301_cdx_latest_capture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from occupation_wage_etl_spark.sources import cdx as cdxmod

    docs = _t(spark, sf_dir, "documents")

    ts = ["20240101000000", "20240215103000", "20241231235959"]

    def _make(did):
        url = f"http://c{did % 17}.example/page{did}"
        return [(did, [
            cdxmod.format_cdxj_line(
                url, ts[k],
                digest=f"sha1:C{did}T{k}",
                length=100 + k, offset=1000 * k,
                filename=f"arc{did}.warc.gz",
            )
            for k in (2, 0, 1)  # out of order on purpose
        ])]

    synth = flat_map(
        docs, ["doc_id"], "doc_id long, lines array<string>", _make
    )
    idx = cdxmod.cdx_records(
        synth.select(F.explode("lines").alias("line")), "line"
    )
    best = idx.groupBy("surt_key").agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.min("url").alias("url"),
        F.max(
            F.struct(
                F.col("cdx_timestamp").alias("ts"),
                F.col("digest").alias("digest"),
                F.col("offset").alias("offset"),
            )
        ).alias("__best"),
    )
    return best.select(
        "surt_key",
        "url",
        "n_captures",
        F.col("__best.ts").alias("latest_ts"),
        F.col("__best.digest").alias("latest_digest"),
        F.col("__best.offset").alias("latest_offset"),
    )


Q301_SQL = """
SELECT 'example,c' || (doc_id % 17) || ')/page' || doc_id AS surt_key,
       'http://c' || (doc_id % 17) || '.example/page' || doc_id AS url,
       CAST(3 AS BIGINT) AS n_captures,
       '20241231235959' AS latest_ts,
       'sha1:C' || doc_id || 'T2' AS latest_digest,
       CAST(2000 AS BIGINT) AS latest_offset
FROM documents
"""


# ---------------------------------------------------------------------------
# q302 — RSS/Atom feed entries (sources/feeds.py): the syndication
# half of web ingest, typed long-form like q277's sitemap entries.
# Even docs plant RSS 2.0 (item/link/guid/pubDate/description), odd
# docs Atom (entry/link@href with the RFC 4287 alternate-or-first rule
# — a rel="self" decoy precedes the alternate link; id/updated/
# summary); each feed has 2 entries, all fields closed-form.
# ---------------------------------------------------------------------------


def q302_feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import feeds

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ds = did.cast("string")
    entry_rss = lambda k: F.concat(  # noqa: E731
        F.lit(f"<item><title>post {k} d"), ds, F.lit("</title>"),
        F.lit("<link>http://r"), ds, F.lit(f".example/{k}</link>"),
        F.lit("<guid>g"), ds, F.lit(f"-{k}</guid>"),
        F.lit(f"<pubDate>2024-03-0{k + 1}</pubDate>"),
        F.lit(f"<description>desc {k}</description></item>"),
    )
    rss = F.concat(
        F.lit('<rss version="2.0"><channel><title>chan '), ds,
        F.lit("</title>"), entry_rss(0), entry_rss(1),
        F.lit("</channel></rss>"),
    )
    entry_atom = lambda k: F.concat(  # noqa: E731
        F.lit(f"<entry><title>post {k} d"), ds, F.lit("</title>"),
        F.lit('<link rel="self" href="http://x.example/self"/>'),
        F.lit('<link rel="alternate" href="http://a'), ds,
        F.lit(f'.example/{k}"/>'),
        F.lit("<id>tag:a"), ds, F.lit(f",{k}</id>"),
        F.lit(f"<updated>2024-03-0{k + 1}T00:00:00Z</updated>"),
        F.lit(f"<summary>desc {k}</summary></entry>"),
    )
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom"><title>chan '),
        ds, F.lit("</title>"), entry_atom(0), entry_atom(1),
        F.lit("</feed>"),
    )
    xml = F.when(did % 2 == 0, rss).otherwise(atom)
    return feeds.feed_entries(docs.select("doc_id", xml.alias("feed_xml")))


Q302_SQL = """
WITH e AS (
  SELECT doc_id, UNNEST(range(0, 2)) AS k FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS feed_kind,
       'chan ' || doc_id AS feed_title,
       CAST(k AS INT) AS ordinal,
       'post ' || k || ' d' || doc_id AS title,
       CASE WHEN doc_id % 2 = 0
            THEN 'http://r' || doc_id || '.example/' || k
            ELSE 'http://a' || doc_id || '.example/' || k
       END AS link,
       CASE WHEN doc_id % 2 = 0
            THEN 'g' || doc_id || '-' || k
            ELSE 'tag:a' || doc_id || ',' || k
       END AS entry_id,
       CASE WHEN doc_id % 2 = 0
            THEN '2024-03-0' || (k + 1)
            ELSE '2024-03-0' || (k + 1) || 'T00:00:00Z'
       END AS published,
       'desc ' || k AS summary
FROM e
"""


# ---------------------------------------------------------------------------
# q303 — ENCRYPTED PDFs (sources/pdf._decrypt_objects): the standard
# security handler with an empty user password — the
# owner-locked-but-readable majority of encrypted crawl PDFs.
# Rotation by doc_id % 4: plaintext control / RC4-40 (V1,R2) /
# RC4-128 (V2,R3) / AES-128 (V4,R4 /StdCF /AESV2 — the cipher
# FIPS-197-known-answer-tested, per-object sAlT keys, IV-prefixed CBC
# with RFC 2898 padding), each a REAL Algorithm-2/3/4/5 document
# (/O from an owner password, /U verified, /ID in the trailer); Flate
# rides on top for odd docs so decrypt→inflate composes.  Extracted
# text must be byte-identical across all four classes — the oracle
# states it closed-form.
# ---------------------------------------------------------------------------


def _synth_pdf_encrypted(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import pdf as pdfmod

    def _pdf(did):
        pages = [
            [f"doc {did} secret line {k}" for k in range(2)],
            [f"doc {did} page two"],
        ]
        return pdfmod.encode_pdf_fixture(
            pages,
            compress_page=lambda p: did % 2 == 1,
            encrypt=[None, "rc4-40", "rc4-128", "aes-128"][did % 4],
        )

    return _doc_blobs(docs, _pdf)


def q303_pdf_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import pdf as pdfmod

    docs = _t(spark, sf_dir, "documents")
    return pdfmod.pdf_text(_synth_pdf_encrypted(docs))


Q303_SQL = """
WITH pg AS (
  SELECT doc_id, 1 AS page,
         'doc ' || doc_id || ' secret line 0' || chr(10) ||
         'doc ' || doc_id || ' secret line 1' AS text
  FROM documents
  UNION ALL
  SELECT doc_id, 2, 'doc ' || doc_id || ' page two' FROM documents
)
SELECT doc_id, CAST(page AS INT) AS page,
       CAST(length(text) AS INT) AS n_chars, text
FROM pg
"""


# ---------------------------------------------------------------------------
# q304 — the URL-DISCOVERY FUNNEL: the whole web-ingest tier composed
# end-to-end, the q262-style proof that the pieces interoperate.
# Per host: robots.txt (Disallow /private + a Sitemap line) → the
# named sitemap's <urlset> (p0, p1, odd docs also /private/x) → an
# Atom feed (f0 + p1 decorated with utm tracking, which MUST collapse
# with the sitemap's p1 after canonicalization) → distinct canonical
# URLs → robots allow filter (drops /private) → anti-join against a
# CDX index of already-crawled captures (drops p0) → one hash-agg per
# registrable domain: discovered / allowed / new-to-fetch counts.
# Closed form per doc: discovered 3+odd, allowed 3, new 2.
# ---------------------------------------------------------------------------


def q304_discovery_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.functions import url as U
    from occupation_wage_etl_spark.operators import robots
    from occupation_wage_etl_spark.operators._cache import cached
    from occupation_wage_etl_spark.sources import cdx as cdxmod
    from occupation_wage_etl_spark.sources import feeds

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ds = did.cast("string")
    host = F.concat(F.lit("h"), ds, F.lit(".site"),
                    (did % 13).cast("string"), F.lit(".example"))
    base = F.concat(F.lit("http://"), host)
    robots_txt = F.concat(
        F.lit("User-agent: *\nDisallow: /private\nSitemap: "),
        base, F.lit("/sitemap.xml\n"),
    )
    loc = lambda p: F.concat(  # noqa: E731
        F.lit("<url><loc>"), base, F.lit(f"{p}</loc></url>")
    )
    sitemap_xml = F.concat(
        F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        loc("/p0"), loc("/p1"),
        F.when(did % 2 == 1, loc("/private/x")).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    feed_xml = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom"><title>f</title>'),
        F.lit('<entry><title>a</title><link href="'), base,
        F.lit('/f0"/><id>1</id></entry>'),
        F.lit('<entry><title>b</title><link href="'), base,
        F.lit('/p1?utm_source=feed"/><id>2</id></entry></feed>'),
    )
    corpus = docs.select(
        "doc_id",
        robots_txt.alias("robots_txt"),
        base.alias("base_url"),
        F.concat(base, F.lit("/sitemap.xml")).alias("sitemap_url"),
        sitemap_xml.alias("sitemap_xml"),
        feed_xml.alias("feed_xml"),
    )
    rules = cached(robots.robots_rules(corpus))
    # discovery joins on the ROBOTS-DECLARED sitemap URL, not doc_id —
    # the real contract (a robots file can name any sitemap)
    declared = rules.filter(F.col("rule_type") == "sitemap").select(
        F.col("doc_id").alias("host_id"), F.col("value").alias("sm_url")
    )
    smap = robots.sitemap_entries(corpus).select(
        "doc_id", F.col("loc").alias("raw_url")
    )
    smap = declared.join(
        corpus.select("doc_id", "sitemap_url"),
        declared["sm_url"] == F.col("sitemap_url"),
    ).select("host_id").join(
        smap, F.col("host_id") == smap["doc_id"]
    ).select("doc_id", "raw_url")
    feed_e = feeds.feed_entries(corpus, xml_col="feed_xml").select(
        "doc_id", F.col("link").alias("raw_url")
    )
    # the discovered-URL set feeds the allow-verdict derivation, the
    # verdict join-back, AND the freshness/count aggregates below — one
    # persisted pass instead of re-running both XML parses per branch
    # (guide §2.4)
    urls = cached(
        smap.unionByName(feed_e)
        .select(
            "doc_id", U.canonicalize_url(F.col("raw_url")).alias("canon")
        )
        .distinct()
        .withColumn("path", U.url_path(F.col("canon")))
    )
    # allow filter over the path component
    verdicts = robots.robots_is_allowed(
        rules, urls.select("doc_id", "path")
    ).select("doc_id", "path", "allowed")
    urls = urls.join(verdicts, ["doc_id", "path"])
    # already-crawled captures: a CDX index holding each host's /p0
    idx_lines = docs.select(
        "doc_id",
        F.concat(
            F.lit("example,site"), (did % 13).cast("string"),
            F.lit(",h"), ds, F.lit(")/p0 20240101000000 "),
            F.lit('{"url": null, "mime": null, "status": null, '
                  '"digest": null, "length": null, "offset": null, '
                  '"filename": null}'),
        ).alias("line"),
    )
    # distinct() is value-preserving on the key-only projection and
    # guarantees the left join below cannot fan rows out; the NULL-side
    # flag then replays the anti-join ("fresh") membership per row, so
    # ONE aggregate computes what previously took two aggregates + an
    # inner join (guide §2.4: per-doc exchange count 3 → 1).  The
    # n_fresh ≥ 1 filter reproduces the inner join's drop of docs with
    # no fresh rows.
    crawled = cdxmod.cdx_records(idx_lines, "line").select(
        F.col("surt_key").alias("crawled_key")
    ).distinct()
    keyed = urls.withColumn("surt", cdxmod.surt_key(F.col("canon")))
    flagged = keyed.join(
        crawled, keyed["surt"] == crawled["crawled_key"], "left"
    )
    is_new = F.col("crawled_key").isNull()
    per_doc = (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_disc"),
            F.sum(F.col("allowed").cast("long")).alias("n_allow"),
            F.sum(
                F.when(is_new, F.col("allowed").cast("long")).otherwise(0)
            ).alias("n_new"),
            F.sum(F.when(is_new, 1).otherwise(0)).alias("n_fresh"),
        )
        .filter(F.col("n_fresh") >= 1)
        .drop("n_fresh")
    )
    dom = F.concat(
        F.lit("site"), (F.col("doc_id") % 13).cast("string"),
        F.lit(".example"),
    )
    return per_doc.groupBy(dom.alias("domain")).agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.sum("n_disc").alias("n_discovered"),
        F.sum("n_allow").alias("n_allowed"),
        F.sum("n_new").alias("n_new"),
    )


Q304_SQL = """
WITH h AS (
  SELECT doc_id, 'site' || (doc_id % 13) || '.example' AS domain,
         3 + doc_id % 2 AS disc
  FROM documents
)
SELECT domain,
       count(*) AS n_hosts,
       CAST(sum(disc) AS BIGINT) AS n_discovered,
       CAST(3 * count(*) AS BIGINT) AS n_allowed,
       CAST(2 * count(*) AS BIGINT) AS n_new
FROM h GROUP BY domain
"""


# ---------------------------------------------------------------------------
# q305 — RECRAWL SCHEDULING (warc.recrawl_schedule): the freshness
# half of crawl politeness.  warc_records now surfaces ETag /
# Last-Modified / Cache-Control; the operator turns them into a
# conditional-refetch plan per RFC 9111 — no-cache → min ttl;
# max-age honored (clamped: class 4 plants max-age=99999999 → 30 d
# cap); Last-Modified-only → the §4.2.2 10% heuristic (capture−LM =
# 50 000 s → ttl 5 000); nothing → default 1 d — with
# revalidate_with picking If-None-Match over If-Modified-Since.
# Closed-form: all five classes stated by the oracle, timestamps
# parsed on both engines (epoch arithmetic, no hardcoded constants).
# ---------------------------------------------------------------------------


def _synth_cache_warc(
    docs: DataFrame, multi_host: bool = False
) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    lm = "Mon, 01 Jan 2024 13:10:45 GMT"

    def _warc(did):
        m = did % 5
        host = f"h{m}{did % 3}.example" if multi_host else "rc.example"
        if m == 0:
            hdrs = {"ETag": f'"e{did}"', "Cache-Control": "max-age=7200"}
        elif m == 1:
            hdrs = {"Cache-Control": "no-cache", "Last-Modified": lm}
        elif m == 2:
            hdrs = {"Last-Modified": lm}
        elif m == 3:
            hdrs = {}
        else:
            hdrs = {
                "ETag": f'W/"w{did}"',
                "Cache-Control": "public, max-age=99999999",
            }
        return warcmod.encode_warc_fixture(
            [
                {
                    "type": "response",
                    "uri": f"http://{host}/{did}",
                    "status": 200,
                    "date": "2024-01-02T03:04:05Z",
                    "payload": f"body {did}".encode(),
                    "http_headers": hdrs,
                }
            ],
            gzip_records=(did % 2 == 1),
            warcinfo=False,
        )

    return _doc_blobs(docs, _warc)


def q305_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import warc as warcmod

    docs = _t(spark, sf_dir, "documents")
    rec = warcmod.warc_records(_synth_cache_warc(docs))
    return warcmod.recrawl_schedule(rec)


Q305_SQL = """
WITH base AS (
  SELECT doc_id, doc_id % 5 AS m,
         epoch(TIMESTAMP '2024-01-02 03:04:05') AS cap,
         'Mon, 01 Jan 2024 13:10:45 GMT' AS lm
  FROM documents
)
SELECT doc_id, CAST(0 AS INT) AS rec_idx,
       'http://rc.example/' || doc_id AS target_uri,
       CASE m WHEN 0 THEN '"e' || doc_id || '"'
              WHEN 4 THEN 'W/"w' || doc_id || '"' END AS etag,
       CASE WHEN m IN (1, 2) THEN lm END AS last_modified,
       CASE m WHEN 0 THEN 'max-age=7200'
              WHEN 1 THEN 'no-cache'
              WHEN 4 THEN 'public, max-age=99999999' END
         AS cache_control,
       CAST(CASE m WHEN 0 THEN 7200 WHEN 1 THEN 300
              WHEN 2 THEN (cap - epoch(strptime(lm,
                             '%a, %d %b %Y %H:%M:%S GMT'))) // 10
              WHEN 3 THEN 86400 ELSE 2592000 END AS BIGINT) AS ttl_s,
       CAST(cap + CASE m WHEN 0 THEN 7200 WHEN 1 THEN 300
              WHEN 2 THEN (cap - epoch(strptime(lm,
                             '%a, %d %b %Y %H:%M:%S GMT'))) // 10
              WHEN 3 THEN 86400 ELSE 2592000 END AS BIGINT)
         AS next_fetch_unix,
       CASE WHEN m IN (0, 4) THEN 'etag'
            WHEN m IN (1, 2) THEN 'last-modified'
            ELSE 'unconditional' END AS revalidate_with
FROM base
"""


# ---------------------------------------------------------------------------
# q306 — per-URL CHANGE RATE from the capture index
# (cdx.cdx_change_rate): the adaptive-recrawl signal that complements
# q305's header-driven plan — digest transitions between consecutive
# captures measure how often a page actually changes.  Each URL plants
# FOUR captures at 10-day spacing (entering out of order), with a
# 3-class digest history: never changes / changes twice (A,A,B,C) /
# changes every capture.  One key-partitioned lag window + one
# hash-agg; est_change_interval = span/max(changes,1) stated
# closed-form (2 592 000 / 1 296 000 / 864 000 s).
# ---------------------------------------------------------------------------


def q306_cdx_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import cdx as cdxmod

    docs = _t(spark, sf_dir, "documents")

    ts = [
        "20240101000000", "20240111000000",
        "20240121000000", "20240131000000",
    ]

    def _make(did):
        m = did % 3
        if m == 0:
            digs = [f"sha1:S{did}"] * 4
        elif m == 1:
            digs = [
                f"sha1:A{did}", f"sha1:A{did}",
                f"sha1:B{did}", f"sha1:C{did}",
            ]
        else:
            digs = [f"sha1:K{did}T{k}" for k in range(4)]
        url = f"http://cr{did % 29}.example/pg{did}"
        return [(did, [
            cdxmod.format_cdxj_line(
                url, ts[k], digest=digs[k],
                length=10, offset=0, filename=f"a{did}",
            )
            for k in (3, 0, 2, 1)  # out of order on purpose
        ])]

    synth = flat_map(
        docs, ["doc_id"], "doc_id long, lines array<string>", _make
    )
    idx = cdxmod.cdx_records(
        synth.select(F.explode("lines").alias("line")), "line"
    )
    return cdxmod.cdx_change_rate(idx)


Q306_SQL = """
SELECT 'example,cr' || (doc_id % 29) || ')/pg' || doc_id AS surt_key,
       'http://cr' || (doc_id % 29) || '.example/pg' || doc_id AS url,
       CAST(4 AS BIGINT) AS n_captures,
       CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 3 END
            AS BIGINT) AS n_changes,
       CAST(2592000 AS BIGINT) AS span_s,
       CAST(864000 AS BIGINT) AS mean_interval_s,
       CAST(CASE doc_id % 3 WHEN 0 THEN 2592000
            WHEN 1 THEN 1296000 ELSE 864000 END AS BIGINT)
         AS est_change_interval_s
FROM documents
"""


# ---------------------------------------------------------------------------
# q307 — ADAPTIVE RECRAWL (warc.adaptive_recrawl): the scheduler loop
# closed — q305's header-driven ttl refined by q306's measured change
# interval.  Explicit freshness (max-age / no-cache) stays an
# authoritative ceiling (measurement only tightens); heuristic/default
# rungs are replaced by the measurement in both directions.  The
# capture history is planted CODEGEN-side (posexplode over four
# 10-day-spaced captures, q306's 3-class digest rotation) so the whole
# history half is zero-Python; the 5×3 class product is stated
# closed-form by the oracle.
# ---------------------------------------------------------------------------


def q307_adaptive_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import cdx as cdxmod
    from occupation_wage_etl_spark.sources import warc as warcmod

    docs = _t(spark, sf_dir, "documents")
    sched = warcmod.recrawl_schedule(
        warcmod.warc_records(_synth_cache_warc(docs))
    )
    ts = F.array(
        F.lit("20240101000000"),
        F.lit("20240111000000"),
        F.lit("20240121000000"),
        F.lit("20240131000000"),
    )
    did = F.col("doc_id").cast("string")
    caps = docs.select("doc_id").select(
        "doc_id", F.posexplode(ts).alias("k", "cdx_timestamp")
    )
    m = F.col("doc_id") % 3
    digest = (
        F.when(m == 0, F.concat(F.lit("sha1:S"), did))
        .when(
            m == 1,
            F.concat(
                F.lit("sha1:"),
                F.element_at(
                    F.array(
                        F.lit("A"), F.lit("A"), F.lit("B"), F.lit("C")
                    ),
                    F.col("k") + 1,
                ),
                did,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("sha1:K"), did, F.lit("T"),
                F.col("k").cast("string"),
            )
        )
    )
    idx = caps.select(
        F.concat(F.lit("example,rc)/"), did).alias("surt_key"),
        F.concat(F.lit("http://rc.example/"), did).alias("url"),
        "cdx_timestamp",
        digest.alias("digest"),
    )
    return warcmod.adaptive_recrawl(sched, cdxmod.cdx_change_rate(idx))


Q307_SQL = """
WITH base AS (
  SELECT doc_id, doc_id % 5 AS m, doc_id % 3 AS c,
         epoch(TIMESTAMP '2024-01-02 03:04:05') AS cap,
         (epoch(TIMESTAMP '2024-01-02 03:04:05')
          - epoch(strptime('Mon, 01 Jan 2024 13:10:45 GMT',
                           '%a, %d %b %Y %H:%M:%S GMT'))) // 10 AS hx
  FROM documents
), plan AS (
  SELECT doc_id, m, cap,
         CASE m WHEN 0 THEN 7200 WHEN 1 THEN 300 WHEN 2 THEN hx
                WHEN 3 THEN 86400 ELSE 2592000 END AS h,
         CASE c WHEN 0 THEN 2592000 WHEN 1 THEN 1296000
                ELSE 864000 END AS e,
         m IN (0, 1, 4) AS explicit
  FROM base
), eff AS (
  SELECT *, CASE WHEN explicit THEN GREATEST(300, LEAST(h, e))
                 ELSE GREATEST(300, LEAST(2592000, e)) END AS t
  FROM plan
)
SELECT doc_id, CAST(0 AS INT) AS rec_idx,
       'http://rc.example/' || doc_id AS target_uri,
       CAST(h AS BIGINT) AS header_ttl_s,
       CAST(e AS BIGINT) AS measured_interval_s,
       CAST(t AS BIGINT) AS ttl_s,
       CAST(cap + t AS BIGINT) AS next_fetch_unix,
       CASE WHEN t = h THEN 'headers' ELSE 'measured' END
         AS schedule_source,
       CASE WHEN m IN (0, 4) THEN 'etag'
            WHEN m IN (1, 2) THEN 'last-modified'
            ELSE 'unconditional' END AS revalidate_with
FROM eff
"""


# ---------------------------------------------------------------------------
# q308 — WAT METADATA SIDECAR (sources/wat.py): the third leg of the
# WARC/WAT/WET triad — metadata records whose JSON envelope carries
# the page catalog (status, title, metas, outlinks) without the page
# bytes.  The walk reuses the ISO 28500 record parser (half the docs
# member-gzipped); the envelope parses JVM-side with from_json;
# wat_outlinks posexplodes the link array into the graph tier's edge
# view.  Absent Title (%5) / description (%7) gate NULL handling;
# status rotates 200/404.  Catalog ⋈ edge-aggregate, one shuffle.
# ---------------------------------------------------------------------------


def _synth_wat(docs: DataFrame) -> DataFrame:
    from occupation_wage_etl_spark.sources import wat as watmod

    def _wat(did):
        links = [
            {
                "path": "A@/href",
                "url": f"http://l{k}.example/p{did}",
                "text": f"a{k}-{did}",
            }
            for k in range(did % 4 + 1)
        ]
        metas = [{"name": "viewport", "content": "width=device-width"}]
        if did % 7 != 0:
            metas.append({"name": "description", "content": f"D{did}"})
        entry = {
            "uri": f"http://wat.example/{did}",
            "status": 200 if did % 2 == 0 else 404,
            "metas": metas,
            "links": links,
        }
        if did % 5 != 0:
            entry["title"] = f"T{did}"
        return watmod.encode_wat_fixture([entry], gzip_records=(did % 2 == 1))

    return _doc_blobs(docs, _wat)


def q308_wat_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import wat as watmod

    docs = _t(spark, sf_dir, "documents")
    # The catalog row and the outlink aggregate both consume the parsed
    # WAT metadata; persist it once so the two-stage Python parse
    # (payload extract + JSON envelope walk) runs a single time
    # (guide §2.4 — 8 Python nodes in the uncached plan).
    meta = cached(
        watmod.wat_metadata(watmod.wat_payloads(_synth_wat(docs)))
    )
    edges = watmod.wat_outlinks(meta)
    agg = edges.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.min("url").alias("first_link"),
        F.max("url").alias("last_link"),
    )
    return meta.drop("links").join(agg, "doc_id").select(
        "doc_id",
        "target_uri",
        "http_status",
        "title",
        "meta_description",
        "n_links",
        "n_edges",
        "first_link",
        "last_link",
    )


Q308_SQL = """
SELECT doc_id,
       'http://wat.example/' || doc_id AS target_uri,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 200 ELSE 404 END AS INT)
         AS http_status,
       CASE WHEN doc_id % 5 <> 0 THEN 'T' || doc_id END AS title,
       CASE WHEN doc_id % 7 <> 0 THEN 'D' || doc_id END
         AS meta_description,
       CAST(doc_id % 4 + 1 AS INT) AS n_links,
       CAST(doc_id % 4 + 1 AS BIGINT) AS n_edges,
       'http://l0.example/p' || doc_id AS first_link,
       'http://l' || (doc_id % 4) || '.example/p' || doc_id
         AS last_link
FROM documents
"""


# ---------------------------------------------------------------------------
# q309 — IN-ENGINE NAIVE BAYES (operators/classify.py): the
# quality/spam-classifier training step of a curation pipeline as pure
# DataFrame aggregates — training is ONE counting shuffle
# (class×token), scoring is a token-keyed join + decimal-exact
# log-sum, argmax by struct-max.  3-class planted corpus (distinct
# content words + shared 'common'/'filler'); resubstitution must
# recover every label with wide margins.  The oracle replays the FULL
# train→score pipeline in SQL (12dp-rounded logs into DECIMAL sums —
# order-independent, so both engines agree bit-exactly at 6dp).
# ---------------------------------------------------------------------------


def q309_nb_quality_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from occupation_wage_etl_spark.operators import classify

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    c = (F.col("doc_id") % 3).cast("int")
    base = F.element_at(
        F.array(
            F.lit("alpha alpha beta"),
            F.lit("gamma gamma delta"),
            F.lit("epsilon epsilon zeta"),
        ),
        c + 1,
    )
    text = F.concat(
        base,
        F.lit(" common"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(" filler")).otherwise(
            F.lit("")
        ),
    )
    labeled = docs.select(
        "doc_id",
        text.alias("text"),
        F.concat(F.lit("c"), c.cast("string")).alias("label"),
    )
    return classify.naive_bayes_self_score(labeled)


Q309_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'alpha alpha beta'
              WHEN 1 THEN 'gamma gamma delta'
              ELSE 'epsilon epsilon zeta' END
         || ' common'
         || CASE WHEN doc_id % 2 = 0 THEN ' filler' ELSE '' END
           AS text,
         'c' || (doc_id % 3) AS label
  FROM documents
), toks AS (
  SELECT doc_id, label, unnest(string_split(text, ' ')) AS tok FROM d
), dt AS (
  SELECT doc_id, label, tok, COUNT(*) AS n
  FROM toks WHERE tok <> '' GROUP BY doc_id, label, tok
), ct AS (
  SELECT label AS cls, tok, SUM(n) AS cnt FROM dt GROUP BY label, tok
), ctot AS (SELECT cls, SUM(cnt) AS t FROM ct GROUP BY cls),
vocab AS (SELECT DISTINCT tok FROM ct),
vs AS (SELECT COUNT(*) AS v FROM vocab),
cls AS (SELECT label AS cls2, COUNT(*) AS n_docs FROM d GROUP BY label),
na AS (SELECT COUNT(*) AS n_all FROM d),
dense AS (
  SELECT vocab.tok, cls.cls2 AS cls,
         CAST(ROUND(LN(CAST(COALESCE(ct.cnt, 0) + 1 AS DOUBLE)
                       / CAST(ctot.t + vs.v AS DOUBLE)), 12)
              AS DECIMAL(20,12)) AS loglik
  FROM vocab CROSS JOIN cls
  LEFT JOIN ct ON ct.tok = vocab.tok AND ct.cls = cls.cls2
  JOIN ctot ON ctot.cls = cls.cls2
  CROSS JOIN vs
), priors AS (
  SELECT cls2 AS cls,
         CAST(ROUND(LN(CAST(n_docs AS DOUBLE)
                       / CAST(n_all AS DOUBLE)), 12)
              AS DECIMAL(20,12)) AS logprior
  FROM cls CROSS JOIN na
), sc AS (
  SELECT dt.doc_id, dt.label, dense.cls,
         ROUND(CAST(SUM(CAST(dt.n AS DECIMAL(8,0)) * dense.loglik)
                    + ANY_VALUE(priors.logprior) AS DOUBLE), 6)
           AS score
  FROM dt
  JOIN dense ON dense.tok = dt.tok
  JOIN priors ON priors.cls = dense.cls
  GROUP BY dt.doc_id, dt.label, dense.cls
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, cls DESC) AS rn
  FROM sc
)
SELECT doc_id, label AS true_label, cls AS pred_label, score
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q310 — FRONTIER POLITENESS GATE (streaming/frontier.py, batch twin):
# per-domain earliest-polite-slot assignment, the prefix fold
# sched_i = max(ts_i, sched_{i-1} + delay) — a codegen collect_list
# fold (NOT a window: each row depends on the previous OUTPUT).  Four
# requests per domain arrive every ceil(d/2) seconds with d =
# doc_id%5+2, so every request queues behind its predecessor and the
# closed form is sched_k = 1000 + k·d exactly; the last 20% of
# domains are absent from the delays table and take the default.  The
# streaming twin (applyInPandasWithState, one long of state) is
# equivalence-tested in tests/test_frontier.py.
# ---------------------------------------------------------------------------


def q310_politeness_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.streaming import frontier

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.when(
        F.col("doc_id") % 5 == 4, F.lit(1)
    ).otherwise(F.col("doc_id") % 5 + 2)
    # delays table covers only doc_id%5 in 0..3; %5==4 falls back to
    # the default_delay_s=1 rung (closed form still k·1)
    delays = (
        docs.filter(F.col("doc_id") % 5 != 4)
        .select(
            F.concat(F.lit("dom"), F.col("doc_id").cast("string"))
            .alias("domain"),
            (F.col("doc_id") % 5 + 2).cast("long").alias("delay_s"),
        )
    )
    reqs = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
    ).select(
        F.concat(F.lit("dom"), F.col("doc_id").cast("string"))
        .alias("domain"),
        (F.lit(1000) + F.col("k") * ((d + 1) / 2).cast("long"))
        .cast("long")
        .alias("ts"),
        F.col("k").cast("long").alias("seq"),
        F.concat(
            F.lit("http://dom"),
            F.col("doc_id").cast("string"),
            F.lit(".example/p"),
            F.col("k").cast("string"),
        ).alias("url"),
    )
    return frontier.politeness_gate_batch(reqs, delays)


Q310_SQL = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 4 THEN 1
              ELSE doc_id % 5 + 2 END AS d,
         unnest(generate_series(0, 3)) AS k
  FROM documents
)
SELECT 'dom' || doc_id AS domain,
       CAST(k AS BIGINT) AS seq,
       'http://dom' || doc_id || '.example/p' || k AS url,
       CAST(1000 + k * ((d + 1) // 2) AS BIGINT) AS ts,
       CAST(1000 + k * d AS BIGINT) AS scheduled_ts,
       CAST(k * (d - (d + 1) // 2) AS BIGINT) AS wait_s
FROM base
"""


# ---------------------------------------------------------------------------
# q311 — NB TRAIN/APPLY SPLIT (classify.naive_bayes_score): the
# production shape — fit on the labeled 80% (doc_id%10<8), score the
# held-out 20% whose text carries an out-of-vocabulary token
# ('novel', never in training): OOV occurrences take the per-class
# smoothing default log(alpha/(t_c+alpha·V)) and are COUNTED (n_oov
# is the model-staleness signal a curation pipeline monitors).  The
# oracle replays the full fit→apply pipeline in SQL including the
# OOV coalesce.
# ---------------------------------------------------------------------------


def q311_nb_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.operators import classify

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    c = (F.col("doc_id") % 3).cast("int")
    base = F.element_at(
        F.array(
            F.lit("alpha alpha beta"),
            F.lit("gamma gamma delta"),
            F.lit("epsilon epsilon zeta"),
        ),
        c + 1,
    )
    train = docs.filter(F.col("doc_id") % 10 < 8).select(
        "doc_id",
        F.concat(
            base,
            F.lit(" common"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit(" filler")
            ).otherwise(F.lit("")),
        ).alias("text"),
        F.concat(F.lit("c"), c.cast("string")).alias("label"),
    )
    held_out = docs.filter(F.col("doc_id") % 10 >= 8).select(
        "doc_id", F.concat(base, F.lit(" common novel")).alias("text")
    )
    return classify.naive_bayes_score(train, held_out)


Q311_SQL = """
WITH tr AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'alpha alpha beta'
              WHEN 1 THEN 'gamma gamma delta'
              ELSE 'epsilon epsilon zeta' END
         || ' common'
         || CASE WHEN doc_id % 2 = 0 THEN ' filler' ELSE '' END
           AS text,
         'c' || (doc_id % 3) AS label
  FROM documents WHERE doc_id % 10 < 8
), ttoks AS (
  SELECT doc_id, label, unnest(string_split(text, ' ')) AS tok FROM tr
), ct AS (
  SELECT label AS cls, tok, COUNT(*) AS cnt
  FROM ttoks WHERE tok <> '' GROUP BY label, tok
), ctot AS (SELECT cls, SUM(cnt) AS t FROM ct GROUP BY cls),
vocab AS (SELECT DISTINCT tok FROM ct),
vs AS (SELECT COUNT(*) AS v FROM vocab),
cls AS (SELECT label AS cls2, COUNT(*) AS n_docs FROM tr GROUP BY label),
na AS (SELECT COUNT(*) AS n_all FROM tr),
dense AS (
  SELECT vocab.tok, cls.cls2 AS cls,
         CAST(ROUND(LN(CAST(COALESCE(ct.cnt, 0) + 1 AS DOUBLE)
                       / CAST(ctot.t + vs.v AS DOUBLE)), 12)
              AS DECIMAL(20,12)) AS loglik
  FROM vocab CROSS JOIN cls
  LEFT JOIN ct ON ct.tok = vocab.tok AND ct.cls = cls.cls2
  JOIN ctot ON ctot.cls = cls.cls2
  CROSS JOIN vs
), defs AS (
  SELECT cls, CAST(ROUND(LN(1.0 / CAST(ctot.t + vs.v AS DOUBLE)), 12)
              AS DECIMAL(20,12)) AS oov_loglik
  FROM ctot CROSS JOIN vs
), priors AS (
  SELECT cls2 AS cls,
         CAST(ROUND(LN(CAST(n_docs AS DOUBLE)
                       / CAST(n_all AS DOUBLE)), 12)
              AS DECIMAL(20,12)) AS logprior
  FROM cls CROSS JOIN na
), sd AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'alpha alpha beta'
              WHEN 1 THEN 'gamma gamma delta'
              ELSE 'epsilon epsilon zeta' END
         || ' common novel' AS text
  FROM documents WHERE doc_id % 10 >= 8
), stoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM sd
), sdt AS (
  SELECT doc_id, tok, COUNT(*) AS n
  FROM stoks WHERE tok <> '' GROUP BY doc_id, tok
), sc AS (
  SELECT sdt.doc_id, p.cls,
         ROUND(CAST(
           SUM(CAST(sdt.n AS DECIMAL(8,0))
               * COALESCE(dense.loglik, defs.oov_loglik))
           + ANY_VALUE(p.logprior) AS DOUBLE), 6) AS score,
         CAST(SUM(CASE WHEN dense.loglik IS NULL THEN sdt.n
                       ELSE 0 END) AS BIGINT) AS n_oov
  FROM sdt
  CROSS JOIN priors p
  LEFT JOIN dense ON dense.tok = sdt.tok AND dense.cls = p.cls
  JOIN defs ON defs.cls = p.cls
  GROUP BY sdt.doc_id, p.cls
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, cls DESC) AS rn
  FROM sc
)
SELECT doc_id, cls AS pred_label, score, n_oov
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q312 — CRAWL-SCHEDULING CYCLE, end to end (the q304 of the
# scheduling tier): cache-header WARC synth → recrawl_schedule →
# codegen CDX capture history → cdx_change_rate → adaptive_recrawl →
# refetch requests → per-domain politeness_gate_batch.  Hosts carry
# the (m5, m3) class pair (15 domains), so every doc in a domain
# shares ONE effective ttl → all its refetches land at the same
# instant → the gate's closed form is sched_k = next_fetch + (k−1)·d
# with k = rank by doc_id and d = (m5+m3)%4+1.  One plan, five
# operators, every number stated by the oracle.
# ---------------------------------------------------------------------------


def q312_crawl_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from occupation_wage_etl_spark.sources import cdx as cdxmod
    from occupation_wage_etl_spark.sources import warc as warcmod
    from occupation_wage_etl_spark.streaming import frontier

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    sched = warcmod.recrawl_schedule(
        warcmod.warc_records(_synth_cache_warc(docs, multi_host=True))
    )
    did = F.col("doc_id").cast("string")
    host = F.concat(
        F.lit("h"),
        (F.col("doc_id") % 5).cast("string"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".example"),
    )
    ts_arr = F.array(
        F.lit("20240101000000"),
        F.lit("20240111000000"),
        F.lit("20240121000000"),
        F.lit("20240131000000"),
    )
    caps = docs.select(
        "doc_id", F.posexplode(ts_arr).alias("k", "cdx_timestamp")
    )
    m = F.col("doc_id") % 3
    digest = (
        F.when(m == 0, F.concat(F.lit("sha1:S"), did))
        .when(
            m == 1,
            F.concat(
                F.lit("sha1:"),
                F.element_at(
                    F.array(
                        F.lit("A"), F.lit("A"), F.lit("B"), F.lit("C")
                    ),
                    F.col("k") + 1,
                ),
                did,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("sha1:K"), did, F.lit("T"),
                F.col("k").cast("string"),
            )
        )
    )
    idx = caps.select(
        F.concat(
            F.lit("example,h"),
            (F.col("doc_id") % 5).cast("string"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(")/"),
            did,
        ).alias("surt_key"),
        F.concat(F.lit("http://"), host, F.lit("/"), did).alias("url"),
        "cdx_timestamp",
        digest.alias("digest"),
    )
    adp = warcmod.adaptive_recrawl(sched, cdxmod.cdx_change_rate(idx))
    reqs = adp.select(
        F.regexp_extract("target_uri", r"^https?://([^/]+)", 1).alias(
            "domain"
        ),
        F.col("doc_id").alias("seq"),
        F.col("next_fetch_unix").alias("ts"),
        F.col("target_uri").alias("url"),
    )
    delays = docs.select(
        F.concat(
            F.lit("h"),
            (F.col("doc_id") % 5).cast("string"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".example"),
        ).alias("domain"),
        ((F.col("doc_id") % 5 + F.col("doc_id") % 3) % 4 + 1)
        .cast("long")
        .alias("delay_s"),
    ).distinct()
    return frontier.politeness_gate_batch(reqs, delays)


Q312_SQL = """
WITH base AS (
  SELECT doc_id, doc_id % 5 AS m, doc_id % 3 AS c,
         epoch(TIMESTAMP '2024-01-02 03:04:05') AS cap,
         (epoch(TIMESTAMP '2024-01-02 03:04:05')
          - epoch(strptime('Mon, 01 Jan 2024 13:10:45 GMT',
                           '%a, %d %b %Y %H:%M:%S GMT'))) // 10 AS hx
  FROM documents
), plan AS (
  SELECT doc_id, m, c, cap,
         CASE m WHEN 0 THEN 7200 WHEN 1 THEN 300 WHEN 2 THEN hx
                WHEN 3 THEN 86400 ELSE 2592000 END AS h,
         CASE c WHEN 0 THEN 2592000 WHEN 1 THEN 1296000
                ELSE 864000 END AS e,
         m IN (0, 1, 4) AS explicit
  FROM base
), eff AS (
  SELECT *, CASE WHEN explicit THEN GREATEST(300, LEAST(h, e))
                 ELSE GREATEST(300, LEAST(2592000, e)) END AS t
  FROM plan
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY m, c ORDER BY doc_id) AS k
  FROM eff
)
SELECT 'h' || m || c || '.example' AS domain,
       doc_id AS seq,
       'http://h' || m || c || '.example/' || doc_id AS url,
       CAST(cap + t AS BIGINT) AS ts,
       CAST(cap + t + (k - 1) * ((m + c) % 4 + 1) AS BIGINT)
         AS scheduled_ts,
       CAST((k - 1) * ((m + c) % 4 + 1) AS BIGINT) AS wait_s
FROM ranked
"""


# The registry, derived by the naming rule in the module docstring.
_QUERY_NAME = re.compile(r"q(\d+)_\w+")
SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = dict(
    sorted(
        ((name, obj) for name, obj in globals().items()
         if _QUERY_NAME.fullmatch(name)),
        key=lambda item: int(_QUERY_NAME.fullmatch(item[0])[1]),
    )
)
ORACLE_SQL: dict[str, str] = {
    name: globals()[f"Q{_QUERY_NAME.fullmatch(name)[1]}_SQL"]
    for name in SPARK_QUERIES
}
