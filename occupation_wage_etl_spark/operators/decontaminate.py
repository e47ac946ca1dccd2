"""Train/eval decontamination: flag training documents that share word
n-grams with an evaluation set.

The standard LLM-pipeline hygiene step (cf. GPT-3 §C / PaLM app. — the
public decontamination recipe: 13-gram overlap): any training document
containing an n-gram that also appears in an eval benchmark is suspect
and gets dropped or trimmed.

Plan shape (100 TB design)
--------------------------
1. tokenize + slide an n-token window per document — all codegen
   (``split`` → ``sequence`` → ``transform`` → ``explode``), no Python;
2. distinct (doc, gram) pairs per side — map-side partial aggregation
   collapses repeats before the shuffle;
3. candidate equi-join on ``xxhash64(gram)``: the shuffle carries an
   8-byte key + doc id, not the gram text.  Equal hashes are then
   VERIFIED on the carried gram string (same hash-then-verify funnel as
   minhash/simhash — collisions cannot produce false positives);
4. count distinct shared grams per training doc.

The eval side of a decontamination run is benchmark-sized (thousands of
docs, not billions) — Spark auto-broadcasts it, so the big side never
shuffles at all: scan → hash-join → partial count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _doc_grams(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """Distinct (id, gram, gram_hash) word n-grams per document."""
    toks = F.split(F.col(text_col), " ")
    # guard docs shorter than n: sequence(1, 0) either counts DOWN (no
    # step) or throws (step 1) — the when-branch is only evaluated for
    # qualifying rows (CaseWhen is lazy per branch)
    windows = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda k: F.concat_ws(" ", F.slice(toks, k, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col).alias("id"), F.explode(windows).alias("gram"))
        .distinct()
        .withColumn("gram_hash", F.xxhash64("gram"))
    )


def contamination(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_shared_grams) for every training doc sharing ≥1 word
    ``n``-gram with ``eval_df``.  Join keyed on the 64-bit gram hash,
    verified on the gram text; eval grams deduped and broadcast-sized."""
    tg = _doc_grams(train, n, text_col, id_col)
    eg = (
        _doc_grams(eval_df, n, text_col, id_col)
        .select("gram", "gram_hash")
        .distinct()
    )
    return (
        tg.alias("t")
        .join(
            eg.alias("e"),
            (F.col("t.gram_hash") == F.col("e.gram_hash"))
            & (F.col("t.gram") == F.col("e.gram")),
        )
        .groupBy(F.col("t.id").alias(id_col))
        .agg(F.countDistinct("t.gram").alias("n_shared_grams"))
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    ``(id, n_tokens, top_tok_frac, top_bigram_frac)`` where the fracs are
    the most frequent token's (bigram's) share of all tokens (bigrams).
    High values mean degenerate/boilerplate text (the Gopher rules drop
    docs with top-2-gram share > 0.2 etc.).

    Two explode→hash-agg passes, all codegen; shuffles carry
    (id, token/bigram) with map-side combine.  NULL bigram frac for
    single-token docs (no bigrams exist).
    """
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col).alias("id"), toks.alias("t"))

    tok_counts = (
        base.select("id", F.explode("t").alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("top_tok"),
        )
    )
    bigrams = F.when(
        F.size(F.col("t")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("t")) - 1),
            lambda k: F.concat_ws(" ", F.slice(F.col("t"), k, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi_counts = (
        base.select("id", F.explode(bigrams).alias("bg"))
        .groupBy("id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram"))
    )
    return (
        tok_counts.join(bi_counts, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            (F.col("top_tok") / F.col("n_tokens")).alias("top_tok_frac"),
            (F.col("top_bigram") / F.col("n_bigrams")).alias("top_bigram_frac"),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: str = "cap",
) -> Column | DataFrame:
    """Keep at most ``cap`` rows per group, chosen by a deterministic
    engine-portable pseudo-random order (md5 of salted id — identical in
    DuckDB, so oracle-replayable; xxhash64 would be Spark-only).

    The per-domain cap of web-scale curation (e.g. C4/RefinedWeb cap
    documents per registered domain so megadomains don't dominate).
    One window shuffle on ``group_col``; ties impossible (md5 of a
    unique id).  Skewed domains are bounded by the cap itself — the
    window only ever materializes ``cap`` winners per partition key
    thanks to rank pushdown (WindowGroupLimit in Spark ≥ 3.5).
    """
    from pyspark.sql import Window

    order = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(order)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def contrastive_pairs(
    df: DataFrame,
    pairs: DataFrame,
    n_negatives: int = 2,
    id_col: str = "doc_id",
    salt: str = "neg",
) -> DataFrame:
    """Mine (anchor, positive, negative) triplets for contrastive
    training: positives come from a near-dup pair list (MinHash/SimHash
    output — semantically close by construction), negatives are
    deterministic pseudo-random picks from the corpus, re-rolled per
    (anchor, j) via md5 and FILTERED against the pair list so a known
    near-dup can never leak in as a negative.

    Determinism: negative j for an anchor is corpus_index[md5(salt:
    anchor:j) mod N] — reruns, repartitions, and the DuckDB oracle all
    emit identical triplets.  Collisions with the anchor/positive/known
    pairs drop that slot rather than re-rolling (branchless, still
    deterministic).

    Scale notes: N and the md5 roll are engine-side (one 1-row count
    broadcast, no driver collect); the corpus index is the prefix count
    of :func:`~occupation_wage_etl_spark.operators._scan.prefix_scan`
    over ``[id_col]`` with weight 1 (identical 0-based integers to a
    global ``row_number``).  The nidx==idx lookup join is left to
    AQE (the index is corpus-sized — never force-broadcast it); the
    anti-join against known pairs carries only id pairs.
    """
    from occupation_wage_etl_spark.operators._scan import prefix_scan

    anchors = pairs.select(
        F.col("id_a").alias("anchor"), F.col("id_b").alias("positive")
    )
    n_tbl = df.agg(F.count(F.lit(1)).alias("n"))
    indexed, _ = prefix_scan(
        df.select(F.col(id_col)), [id_col], {"__cumb": ("sum", F.lit(1))}
    )
    idx = indexed.select(
        F.col(id_col), F.col("__cumb").cast("long").alias("idx")
    )
    expanded = anchors.select(
        "anchor",
        "positive",
        F.explode(F.array(*[F.lit(j) for j in range(n_negatives)])).alias("j"),
    )
    roll = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:"),
                        F.col("anchor").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % F.col("n")
    )
    cand = (
        expanded.crossJoin(F.broadcast(n_tbl))
        .withColumn("nidx", roll)
        .join(idx, F.col("nidx") == F.col("idx"))
        .select(
            "anchor",
            "positive",
            "j",
            F.col(id_col).alias("negative"),
        )
        .filter(
            (F.col("negative") != F.col("anchor"))
            & (F.col("negative") != F.col("positive"))
        )
    )
    sym = pairs.select(
        F.col("id_a").alias("pa"), F.col("id_b").alias("pb")
    ).union(pairs.select(F.col("id_b").alias("pa"), F.col("id_a").alias("pb")))
    return cand.join(
        sym,
        (cand["anchor"] == sym["pa"]) & (cand["negative"] == sym["pb"]),
        "left_anti",
    )
