"""Corpus vocabulary building (document frequency -> token ids).

Plan shape at 100 TB:

  scan -> project tokens -> array_distinct -> explode   [no shuffle]
  groupBy(token) count                                   [one shuffle,
      map-side partial agg collapses each partition to its distinct
      token set first -- for natural-language vocabularies that is
      O(vocab) per partition, not O(corpus)]
  global top-N by (df desc, token asc)                   [single-partition
      window over <= N * partitions pre-truncated rows]

The final ranking pre-truncates each partition to its local top-N
before the single-partition global sort, so the driver-side stage sees
at most N * shuffle_partitions rows regardless of corpus size.

Reference analogue: none; training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators._cache import checkpoint


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Top-N tokens by document frequency with dense ids.

    Returns (token, doc_freq, token_id); token_id is 1-based in
    (doc_freq desc, token asc) order — fully deterministic, so the
    DuckDB oracle reproduces ids exactly.
    """
    tok = (
        df.select(
            F.explode(
                F.array_distinct(F.split(F.col(text_col), r"\s+"))
            ).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    # local top-N per partition first: the global (unpartitioned) window
    # then ranks at most N rows per input partition instead of the full
    # vocabulary.
    order = [F.desc("doc_freq"), F.asc("token")]
    local = Window.partitionBy(F.spark_partition_id()).orderBy(*order)
    pruned = (
        tok.withColumn("_lr", F.row_number().over(local))
        .filter(F.col("_lr") <= top_n)
        .drop("_lr")
    )
    w = Window.orderBy(*order)
    return (
        pruned.withColumn("token_id", F.row_number().over(w))
        .filter(F.col("token_id") <= top_n)
    )


def encode_corpus(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = 0,
) -> DataFrame:
    """Encode every document into its token-id sequence using ``vocab``
    (output of :func:`build_vocab`) — the step that turns a curated
    corpus into trainer-ready integer sequences.

    Returns (id, n_tokens, n_oov, ids) with ``ids`` the comma-joined
    id sequence in token order; out-of-vocabulary tokens map to
    ``unk_id``.  NULL-text docs keep a row with 0/0/''.

    Plan: posexplode keeps each token's position scan-side; the vocab
    (bounded at top-N rows by construction) broadcast-joins onto the
    token stream — no shuffle carries text except the one hash-agg that
    reassembles (position, id) pairs per doc, and that shuffle carries
    fixed-width integers only.  ``array_sort`` on (pos, id) structs
    restores order deterministically (collect_list alone is
    partition-order-dependent).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(
                F.split(F.col(text_col), r"\s+"), lambda x: x != ""
            )
        ).alias("pos", "token"),
    )
    mapped = toks.join(F.broadcast(vocab.select("token", "token_id")),
                       "token", "left").select(
        "id",
        "pos",
        F.coalesce(F.col("token_id"), F.lit(unk_id)).alias("tid"),
    )
    enc = mapped.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("tid") == unk_id, 1).otherwise(0)).alias("n_oov"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("tid")))
                ),
                lambda s: s.getField("tid").cast("string"),
            ),
        ).alias("ids"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(enc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
            F.coalesce(F.col("ids"), F.lit("")).alias("ids"),
        )
    )


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 4,
) -> DataFrame:
    """Learn the first ``rounds`` BPE merges (Sennrich et al. 2016) from
    a corpus — the tokenizer-training step of an LLM data pipeline.

    Classic word-type formulation: aggregate the corpus once to a
    (word, freq) TYPE table (all later work is type-sized, not
    corpus-sized), split each word into character symbols, then per
    round (a) count adjacent symbol pairs weighted by word freq — one
    scan-side explode + hash aggregate, (b) pick the argmax pair
    (count desc, pair asc — fully deterministic), (c) replace the pair
    with its concatenation LEFT-TO-RIGHT NON-OVERLAPPING in every word
    via a scan-side fold ("aaa" + merge (a,a) → [aa, a]).

    The argmax is a 1-row driver collect per round — a learned model
    parameter, same policy as IVF centroids.  The symbol table is
    checkpointed per round so the R-deep fold lineage never
    re-plans.  Shuffles per round: ONE hash aggregate on (left, right)
    symbol pairs; everything else is projection.

    Returns (round, merge_left, merge_right, merged, pair_count),
    one row per learned merge, round = 1..``rounds``.
    """
    merges, _ = _bpe_learn(df, text_col, rounds)
    return df.sparkSession.createDataFrame(
        merges,
        "round int, merge_left string, merge_right string, "
        "merged string, pair_count long",
    )


def _bpe_learn(
    df: DataFrame,
    text_col: str,
    rounds: int,
):
    """Shared BPE core: returns (merge rows, final word-type symbol
    table) so :func:`bpe_merges` reports the learned merges and
    :func:`bpe_token_counts` reports the vocabulary they induce without
    re-deriving the fold."""
    spark = df.sparkSession
    t = F.trim(F.lower(F.col(text_col)))
    words = (
        df.select(
            F.explode(F.split(t, r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("syms"),
            "freq",
        )
        .transform(checkpoint)
    )
    merges = []
    for r in range(1, rounds + 1):
        pairs = (
            words.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i-1] AS l, syms[i] AS r))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
        )
        best = pairs.orderBy(
            F.desc("c"), F.asc("l"), F.asc("r")
        ).limit(1).collect()
        if not best:
            break
        bl, br, bc = best[0]["l"], best[0]["r"], best[0]["c"]
        merges.append((r, bl, br, bl + br, bc))
        # left-to-right non-overlapping merge fold; '' marks "no pending
        # symbol" (symbols are never empty strings)
        merge_expr = (
            "CASE WHEN fin.prev = '' THEN fin.out "
            "ELSE concat(fin.out, array(fin.prev)) END"
        )
        words = words.select(
            F.expr(
                f"""
                aggregate(
                  syms,
                  named_struct('out', CAST(array() AS array<string>),
                               'prev', ''),
                  (acc, x) -> CASE
                    WHEN acc.prev = {_sql_str(bl)} AND x = {_sql_str(br)}
                      THEN named_struct(
                             'out',
                             concat(acc.out, array({_sql_str(bl + br)})),
                             'prev', '')
                    WHEN acc.prev = ''
                      THEN named_struct('out', acc.out, 'prev', x)
                    ELSE named_struct(
                           'out', concat(acc.out, array(acc.prev)),
                           'prev', x)
                  END,
                  fin -> {merge_expr}
                )
                """
            ).alias("syms"),
            "freq",
        ).transform(checkpoint)
    return merges, words


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 4,
) -> DataFrame:
    """Apply the first ``rounds`` learned BPE merges and report the
    resulting TOKEN vocabulary histogram — the encode half of the
    tokenizer loop (:func:`bpe_merges` is the learn half): after R
    merges, which subword units exist and how much corpus mass does
    each carry?

    Runs the identical learn-then-fold pipeline (word-TYPE table, so
    every post-aggregation stage is type-sized) and finishes with one
    explode + hash aggregate over the final symbol table.
    ``n_positions`` counts the token's slots across word TYPES;
    ``token_count`` weights each slot by its word's corpus frequency —
    both integer-exact.

    Returns (token, n_positions, token_count), one row per surviving
    vocabulary unit.
    """
    _, words = _bpe_learn(df, text_col, rounds)
    return (
        words.select(F.explode("syms").alias("token"), "freq")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.sum("freq").alias("token_count"),
        )
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"
