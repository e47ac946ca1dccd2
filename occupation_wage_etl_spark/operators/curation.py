"""Corpus curation pipeline — the training-data funnel as ONE lazy plan.

Composes the engine's text operators in the order a 100 TB pre-training
pipeline runs them (cheapest filter first, so each stage scans less):

    quality score (scan-side exprs)           — drops low-signal docs
    → language ID (explode + codegen agg)     — keeps target languages
    → exact dedup (hash groupBy + semi-join)  — one canonical doc per
                                                 normalized content

Everything stays one Catalyst plan: the quality filter is a scan-side
predicate, lang-ID shuffles (id, 5 counters) rows, dedup shuffles
(digest, id) pairs — full text never enters an exchange; the final
semi-joins re-attach payloads by id.  Every stage is individually
oracle-checked (q17, q18, q12); the composition is q34.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from occupation_wage_etl_spark.functions import text as T
from occupation_wage_etl_spark.operators import dedup, text_analysis
from occupation_wage_etl_spark.operators._cache import cached


def curate_corpus(
    df: DataFrame,
    min_quality: float = 0.5,
    langs: Sequence[str] | None = ("en",),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Filter → lang-gate → dedup; returns the surviving rows of ``df``
    plus ``quality`` and ``pred_lang`` columns.

    Dedup keeps the min-id member of each exact-duplicate group *among
    the survivors* (filters first: a high-quality copy must not be
    dropped because a junk copy of the same text had a lower id... the
    junk copy was already gone)."""
    scored = df.withColumn("quality", T.quality_score(F.col(text_col)))
    kept = scored.filter(F.col("quality") >= min_quality)
    if langs:
        lang = text_analysis.lang_id_table(kept, text_col=text_col, id_col=id_col)
        kept = kept.join(
            lang.filter(F.col("pred_lang").isin(list(langs))), id_col, "inner"
        )
    return dedup.exact_dedup(kept, text_col=text_col, id_col=id_col)


def hashed_linear_score(
    df: DataFrame,
    n_buckets: int = 1024,
    weight_scale: int = 1000,
    seed: str = "qw",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-based quality filtering plumbing: score every document with
    a hashed bag-of-words linear classifier (the fastText-style model
    behind most production quality filters), built so the whole pass is
    codegen + one integer aggregate.

    Features: word unigrams hashed to ``n_buckets`` via md5.  Weights:
    INTEGERS in [-weight_scale, weight_scale], md5-derived from ``seed``
    — a deterministic stand-in for trained weights (swap in a trained
    vector and only the broadcast literal table changes, exactly like
    the PQ codebook).  Integer weights make the per-doc feature sum
    EXACT (order- and partition-independent); the logit is then a
    single rational division — no transcendentals, no float folds, so
    the DuckDB oracle replays it bit-for-bit.

    Output: (id, n_tokens, logit, keep) — ``logit`` = Σ w[h(tok)] /
    (weight_scale · n_tokens) ∈ [-1, 1], ``keep`` = logit > 0.
    NULL-text docs keep a row with NULL logit / keep.
    """
    spark = df.sparkSession
    weights = spark.createDataFrame(
        [
            (b, _weight_int(seed, b, weight_scale))
            for b in range(n_buckets)
        ],
        "bucket int, w long",
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(T.tokens(F.col(text_col))).alias("t"),
    )
    bucketed = toks.select(
        "id",
        (F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 8), 16, 10)
         .cast("long") % n_buckets).cast("int").alias("bucket"),
    )
    summed = (
        bucketed.join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").alias("s"),
        )
    )
    scored = summed.select(
        "id",
        "n_tokens",
        (
            F.col("s").cast("double")
            / (F.lit(float(weight_scale)) * F.col("n_tokens").cast("double"))
        ).alias("logit"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            "logit",
            (F.col("logit") > 0).alias("keep"),
        )
    )


def _weight_int(seed: str, bucket: int, scale: int) -> int:
    """Deterministic integer weight in [-scale, scale] from md5 — the
    same '0x'||substr(md5(...),1,8) construction the oracle replays."""
    import hashlib

    h = hashlib.md5(f"{seed}:{bucket}".encode()).hexdigest()
    return int(h[:8], 16) % (2 * scale + 1) - scale


def cluster_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: F.Column,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Canonical-document election: given near-dup ``clusters`` (one
    (id, cluster) row per clustered doc — e.g. connected components over
    MinHash pairs), keep the highest-``score_col`` member of each
    cluster (ties → smallest id).  This is the step after dup-graph
    clustering in every dedup pipeline: you don't drop duplicates, you
    drop all-but-the-best.

    Plan: score is a scan-side expression on ``docs``; the join with the
    cluster table is an equi-join on the id; the election is a struct
    max-aggregate per cluster (map-side combinable — NO window, no
    per-cluster sort), so the shuffle carries (cluster, score, id) only.

    Returns (cluster, size, rep_id, rep_score).
    """
    scored = docs.select(
        F.col(id_col).alias("id"), score_col.alias("__score")
    )
    member = clusters.select(
        F.col(id_col).alias("id"), F.col(cluster_col).alias("cl")
    ).join(scored, "id")
    # struct-ordering trick: max((score, -id)) elects max score with
    # min-id ties, in one aggregate.
    elect = member.groupBy("cl").agg(
        F.count(F.lit(1)).alias("size"),
        F.max(
            F.struct(
                F.col("__score").alias("s"),
                (-F.col("id")).alias("neg_id"),
            )
        ).alias("__w"),
    )
    return elect.select(
        F.col("cl").alias(cluster_col),
        "size",
        (-F.col("__w.neg_id")).alias("rep_id"),
        F.col("__w.s").alias("rep_score"),
    )


def unigram_cross_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-entropy against the corpus unigram language
    model — the dependency-free stand-in for CCNet/RedPajama's KenLM
    perplexity filter: documents whose token distribution diverges from
    the corpus (gibberish, key-mash, foreign-language leaks) score
    high; dead-center prose scores near the corpus entropy.

        CE(d) = − Σ_t c_dt · ln(c_t / T) / len_d     (nats/token)

    Determinism: each type's log-probability is an integer-ratio
    division (exact, identical cross-engine) ln-rounded at 12dp (the
    q147 rule); the per-document sum is a SORTED SEQUENTIAL fold over
    the document's own (token, term) array — bounded by the document's
    distinct-type count, the same per-row array scale as tokenization
    itself — and the closing division is one IEEE op.  No corpus-sized
    float fold anywhere.

    Scale shape: one explode + (doc, token) hash aggregate (row-sized,
    the tokenization shuffle), one vocab-sized aggregate for the LM,
    one equi-join on token (vocab side is dictionary-sized; Catalyst/
    AQE picks broadcast when it fits), one per-doc collect_list of its
    own types.  Returns (id, n_tokens, n_types, cross_entropy).
    """
    tok = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(T.tokens(F.col(text_col))).alias("__t"),
        )
        .filter(F.col("__t") != "")
    )
    from occupation_wage_etl_spark.operators._cache import cached

    dt = cached(
        tok.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("__c"))
    )  # feeds the corpus LM and the per-doc join
    # the LM branch renames the token AT ITS SOURCE projection: lmp
    # descends from dt, and a same-named join key on self-lineage is an
    # AMBIGUOUS_REFERENCE at analysis time
    lm = (
        dt.select(F.col("__t").alias("__lt"), "__c")
        .groupBy("__lt")
        .agg(F.sum("__c").alias("__ct"))
    )
    tot = lm.agg(F.sum("__ct").alias("__T"))
    lmp = lm.crossJoin(F.broadcast(tot)).select(
        "__lt",
        F.round(
            F.log(
                F.col("__ct").cast("double") / F.col("__T").cast("double")
            ),
            12,
        ).alias("__lnp"),
    )
    terms = dt.join(lmp, dt["__t"] == lmp["__lt"]).select(
        "__id",
        "__c",
        F.struct(
            F.col("__t").alias("t"),
            (F.col("__c").cast("double") * F.col("__lnp")).alias("v"),
        ).alias("__s"),
    )
    per_doc = terms.groupBy("__id").agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.aggregate(
            F.array_sort(F.collect_list("__s")),
            F.lit(0.0),
            lambda acc, s: acc + s["v"],
        ).alias("__sum"),
    )
    return per_doc.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        "n_types",
        (-F.col("__sum") / F.col("n_tokens").cast("double")).alias(
            "cross_entropy"
        ),
    )


def ngram_repetition_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Gopher-rule repetition signal: the fraction of a document's word
    ``n``-grams claimed by its single most repeated n-gram — loops,
    boilerplate stutter, and SEO keyword-stuffing push it toward 1
    while natural prose stays near 1/#ngrams.

    Pure integer plan: explode n-grams → (doc, gram) hash aggregate →
    per-doc argmax via ``max(struct(count, gram))`` (deterministic,
    ties to the LARGEST gram — the :func:`stats.grouped_mode` trick, no
    window) → one exact integer-ratio division.  Documents shorter than
    ``n`` tokens follow ``word_ngrams``' one-whole-text-shingle rule
    (ratio 1.0 over a single gram) — filter on ``n_ngrams`` downstream
    if the rule should only judge long-enough documents.

    Returns (id, n_ngrams, top_ngram, top_count, repetition_ratio).
    """
    grams = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(T.word_ngrams(F.col(text_col), n)).alias("__g"),
        )
        .filter(F.col("__g") != "")
    )
    counts = grams.groupBy("__id", "__g").agg(
        F.count(F.lit(1)).alias("__c")
    )
    per_doc = counts.groupBy("__id").agg(
        F.sum("__c").alias("n_ngrams"),
        F.max(F.struct(F.col("__c"), F.col("__g"))).alias("__m"),
    )
    return per_doc.select(
        F.col("__id").alias(id_col),
        "n_ngrams",
        F.col("__m.__g").alias("top_ngram"),
        F.col("__m.__c").alias("top_count"),
        (
            F.col("__m.__c").cast("double")
            / F.col("n_ngrams").cast("double")
        ).alias("repetition_ratio"),
    )


def train_logreg(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lr: float = 1.0,
    iters: int = 3,
) -> DataFrame:
    """Train a logistic-regression quality filter IN the engine:
    ``iters`` full-batch gradient-descent steps, each ONE distributed
    aggregate over the data.

        w <- w + lr * (1/n) * sum_i x_i * (y_i - sigmoid(w . x_i))

    Determinism contract (the repo's float-fold policy): features and
    per-row residuals are 6dp-rounded and summed as DECIMAL — exact,
    order-independent — so the weight trajectory is bit-reproducible
    across partition layouts and engines (sigmoid's ``exp`` is the one
    transcendental; rounding before the sum absorbs its cross-engine
    ULPs).  Between steps only the (d+1)-vector of weights moves to
    the driver — model-parameter-sized, same class as IVF centroids —
    and re-enters the next step's plan as literals.

    Fixed ``iters`` (no convergence test) keeps the computation an
    unrollable, oracle-replayable DAG.  Features are used as given
    (scale them upstream); an intercept is always prepended.

    Returns one row: (n_rows, w0..wd, train_accuracy).
    """
    d = len(feature_cols)
    base = df
    for c in [label_col, *feature_cols]:
        base = base.filter(F.col(c).isNotNull())
    feats = [F.lit(1.0), *[
        F.round(F.col(c).cast("double"), 6) for c in feature_cols
    ]]
    y = F.col(label_col).cast("double")

    weights = [0.0] * (d + 1)
    n_rows = None
    for _ in range(iters):
        z = F.lit(weights[0]) * feats[0]
        for j in range(1, d + 1):
            z = z + F.lit(weights[j]) * feats[j]
        resid = F.round(y - F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
        aggs = [F.count(F.lit(1)).alias("n")]
        for j, fj in enumerate(feats):
            aggs.append(
                F.sum(
                    (fj * resid).cast("decimal(28,12)")
                ).cast("string").cast("double").alias(f"g{j}")
            )
        row = base.agg(*aggs).collect()[0]
        n_rows = row["n"]
        weights = [
            weights[j] + lr * (row[f"g{j}"] / float(n_rows))
            for j in range(d + 1)
        ]

    z = F.lit(weights[0]) * feats[0]
    for j in range(1, d + 1):
        z = z + F.lit(weights[j]) * feats[j]
    pred = (z >= 0).cast("long")
    acc = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(pred == F.col(label_col).cast("long"), 1).otherwise(0)
        ).alias("correct"),
    )
    w_cols = [
        F.lit(float(w)).alias(f"w{j}") for j, w in enumerate(weights)
    ]
    return acc.select(
        "n_rows",
        *w_cols,
        (
            F.col("correct").cast("double") / F.col("n_rows").cast("double")
        ).alias("train_accuracy"),
    )


def train_stump(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> DataFrame:
    """Exact best-split search for a depth-1 decision tree (stump) —
    the split primitive every histogram-GBDT (LightGBM/XGBoost) repeats
    per node, run IN the engine as one distributed plan.

    For every feature and every distinct value ``v`` (rule: ``x <= v``
    goes left), the weighted Gini impurity of the split is

        G = NL*gini_L + NR*gini_R
          = (NL^2 - pL^2 - nL^2)/NL + (NR^2 - pR^2 - nR^2)/NR

    computed from exact integer class counts; the returned split
    minimizes G (ties: feature name, then threshold).

    Scale shape: per feature, one hash-aggregate to distinct values
    (histogram-sized), then :func:`~._scan.prefix_scan` for the
    left-side cumulative (pos, count), a broadcast 1-row totals
    attach, and a TakeOrderedAndProject argmin over the unioned
    candidate set.  Numerator products are carried in DOUBLE (exact up
    to 2^53 rows; int64 would overflow at ~2M rows since G scales as
    N^3) with a fixed expression shape, so the scoring is
    bit-reproducible across engines.

    Returns one row: (feature, threshold, n_left, pos_left, n_right,
    pos_right, gini) with ``gini`` = G/N, the weighted mean impurity.
    """
    from occupation_wage_etl_spark.operators._scan import prefix_scan

    y = F.col(label_col).cast("long")
    cands = None
    for fc in feature_cols:
        g = (
            df.filter(F.col(fc).isNotNull() & y.isNotNull())
            .groupBy(F.col(fc).cast("double").alias("v"))
            .agg(F.sum(y).alias("p"), F.count(F.lit(1)).alias("c"))
        )
        ranked, total = prefix_scan(
            g,
            ["v"],
            {"__nl": ("sum", F.col("c")), "__pl": ("sum", F.col("p"))},
            inclusive=True,
        )
        nl, pl = F.col("__nl"), F.col("__pl")
        nr = F.col("__nl_total") - nl
        pr = F.col("__pl_total") - pl
        nnl = nl - pl
        nnr = nr - pr
        nld, pld, nnld = (x.cast("double") for x in (nl, pl, nnl))
        nrd, prd, nnrd = (x.cast("double") for x in (nr, pr, nnr))
        a = nld * nld - pld * pld - nnld * nnld
        b = nrd * nrd - prd * prd - nnrd * nnrd
        score = (a * nrd + b * nld) / (nld * nrd)
        cand = (
            ranked.join(F.broadcast(total), how="cross")
            .filter(nr > 0)
            .select(
                F.lit(fc).alias("feature"),
                F.col("v").alias("threshold"),
                nl.cast("long").alias("n_left"),
                pl.cast("long").alias("pos_left"),
                nr.cast("long").alias("n_right"),
                pr.cast("long").alias("pos_right"),
                (score / F.col("__nl_total").cast("double")).alias("gini"),
            )
        )
        cands = cand if cands is None else cands.unionByName(cand)
    return cands.orderBy(
        F.asc("gini"), F.asc("feature"), F.asc("threshold")
    ).limit(1)


def source_mixing_weights(
    df: DataFrame,
    source_col: str = "source",
) -> DataFrame:
    """Temperature-scaled source sampling weights for training-mix
    design (the multilingual/multi-source standard: sample source s
    with probability ∝ count_s^α, α = 1/2 here) — upweights small
    high-value sources relative to raw proportional sampling without
    letting any source dominate.

    α = 1/2 keeps the power exact: ``sqrt`` IS correctly-rounded under
    IEEE 754 (unlike pow/log), so each source's √count is
    bit-identical in any engine.  The normalizer Σ√count is a float
    fold whose value depends on accumulation order — so it is computed
    as ONE sequential fold over the source-sorted count array (the
    source axis is category-sized; same bounded-fold pattern as
    kaplan_meier's product limit), making the sum — and every weight —
    deterministic and oracle-reproducible.

    Returns (source, n_docs, weight, raw_share) — weight the tempered
    probability, raw_share the untempered count share (both exact-
    denominator single divisions).
    """
    counts = df.filter(F.col(source_col).isNotNull()).groupBy(
        F.col(source_col).alias("source")
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    counts = cached(counts)
    totals = counts.agg(
        F.sum("n_docs").alias("n_total"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "n_docs"))),
            F.lit(0.0),
            lambda acc, s: acc + F.sqrt(s["n_docs"].cast("double")),
        ).alias("z"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            (F.sqrt(F.col("n_docs").cast("double")) / F.col("z")).alias(
                "weight"
            ),
            (
                F.col("n_docs").cast("double")
                / F.col("n_total").cast("double")
            ).alias("raw_share"),
        )
    )
