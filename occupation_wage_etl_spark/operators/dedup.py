"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first — the standard 100 TB dedup funnel:

1. exact        — md5(normalized text) group-by; one shuffle on a 32-byte key.
2. simhash      — 64-bit fingerprint; near-dups cluster by fingerprint bands.
3. minhash_lsh  — shingle → MinHash signature → banded LSH bucket join;
                  candidate pairs verified by shingle-set Jaccard.
4. ngram_jaccard— exact Jaccard verification on candidate pairs (the
                  verify stage of 3, usable standalone for small candidate sets).

Scale design: every stage is expressed so the only shuffles are
(a) the group-by/self-join on *hash* keys (fixed-width, skew-resistant —
uniformly distributed digests), never on raw text; (b) signature
computation is a scan-side projection (per-row ``transform``s, no UDF).
The LSH band explode multiplies rows by #bands *before* the shuffle, but
each exploded row is only (band_hash, doc_id) — bytes-per-row tiny by
construction.  AQE handles residual bucket skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from occupation_wage_etl_spark.operators._cache import cached
from occupation_wage_etl_spark.operators._rows import flat_map

from occupation_wage_etl_spark.functions import similarity as S
from occupation_wage_etl_spark.functions import text as T
from occupation_wage_etl_spark.operators import similarity


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow scan up to the cluster's parallelism.

    Small/medium parquet inputs arrive as a handful of partitions
    (files < maxPartitionBytes → 1 split); the CPU-heavy per-row hashing
    below would then run on one core.  At 100 TB inputs are already
    thousands of splits and this is a no-op (guarded), so the extra
    shuffle only ever costs where it pays for itself.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized content: keep the min-id row per fingerprint.

    Implemented as groupBy(md5) → min(id) → semi-join back, so the wide
    payload columns never enter the shuffle — only (digest, id) pairs do.
    """
    fp = T.fingerprint(F.col(text_col)).alias("__fp")
    keep = (
        df.select(F.col(id_col), fp)
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
) -> DataFrame:
    """Exact-substring duplication accounting (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — the suffix-dedup family,
    approximated at tile granularity).

    Tiles each normalized document into ``window``-char slices, marks every
    tile whose fingerprint occurs more than once ANYWHERE in the corpus
    (cross-doc copies and in-doc repetition both count), then merges runs of
    adjacent duplicated tiles into spans per document.  Output per doc:
    ``total_tiles``, ``dup_tiles``, ``n_spans``, ``dup_frac`` — the numbers a
    curation pipeline thresholds on before cutting repeated boilerplate.

    Scale shape: the only global shuffle is the groupBy on the 32-byte md5
    tile fingerprint (uniform, skew-free); the span merge is a window
    partitioned BY DOCUMENT (never a global sort); the doc payload never
    enters a shuffle — tiles are (id, pos, digest) triples.  The dup-tile
    marking is a left-semi join on the digest, so only duplicated tiles
    flow into the island merge.
    """
    sid = F.col(id_col)
    tiles = df.select(
        sid.alias("id"),
        F.posexplode(T.rolling_fingerprints(F.col(text_col), window)).alias(
            "pos", "fp"
        ),
    )
    dup_fps = (
        tiles.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select("fp")
    )
    dup_tiles = tiles.join(dup_fps, "fp", "left_semi").select("id", "pos")

    w = Window.partitionBy("id").orderBy("pos")
    spans = (
        dup_tiles.withColumn("__g", F.col("pos") - F.row_number().over(w))
        .groupBy("id", "__g")
        .agg(F.count(F.lit(1)).alias("tiles"))
    )
    per_doc = spans.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("tiles").alias("dup_tiles"),
    )
    totals = df.select(
        sid.alias("id"),
        F.size(T.rolling_fingerprints(F.col(text_col), window))
        .cast("long")
        .alias("total_tiles"),
    )
    return totals.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        "total_tiles",
        F.coalesce(F.col("dup_tiles"), F.lit(0)).cast("long").alias("dup_tiles"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        (
            F.coalesce(F.col("dup_tiles"), F.lit(0)).cast("double")
            / F.col("total_tiles").cast("double")
        ).alias("dup_frac"),
    )


def semantic_dedup(
    df: DataFrame,
    centroids,
    threshold: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup of an
    embedded corpus.  Assign every vector to its nearest centroid (IVF
    cell), then WITHIN each cell drop every vector that has a smaller-id
    neighbor at cosine >= ``threshold``; survivors are the semantic
    representatives.  Returns the per-cell summary
    ``(ivf_cell, n_vectors, n_dropped, n_kept)``.

    Scale shape: assignment is a scan-side argmax over literal centroids
    (no shuffle); the candidate join is an equi-join ON CELL, never
    all-pairs — within-cell quadratic cost is bounded by cell size, and at
    100 TB the centroid count grows with the corpus (cells stay ~constant
    size; SemDeDup's own recipe).  Vectors are L2-normalized once before
    the join so each pair costs one dot-product fold.
    """
    inv = F.lit(1.0) / S.l2_norm(F.col(vec_col))
    # persist the (id, cell, unit-vector) assignment table: it feeds BOTH
    # sides of the within-cell self-join (without it the interpreted
    # argmax/normalize projection runs twice), and at cluster scale it is
    # the checkpointed IVF index the probe path reads back.
    cellv = (
        similarity.ivf_assign(df, centroids, vec_col)
        .select(
            F.col(id_col).alias("id"),
            "ivf_cell",
            F.when(
                S.l2_norm(F.col(vec_col)) > 0,
                F.transform(F.col(vec_col), lambda x: x.cast("double") * inv),
            ).alias("v"),
        )
        .transform(cached)
    )
    l, r = cellv.alias("l"), cellv.alias("r")
    dropped = (
        l.join(
            r,
            (F.col("l.ivf_cell") == F.col("r.ivf_cell"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .filter(
            F.round(S.dot_product(F.col("l.v"), F.col("r.v")), 6) >= threshold
        )
        .select(F.col("r.id").alias("id"))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        cellv.select("id", "ivf_cell")
        .join(dropped, "id", "left")
        .groupBy("ivf_cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.coalesce(F.col("__dropped"), F.lit(0))).cast("long").alias("n_dropped"),
        )
        .select(
            "ivf_cell",
            "n_vectors",
            "n_dropped",
            (F.col("n_vectors") - F.col("n_dropped")).alias("n_kept"),
        )
    )


def shingle_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Persisted distinct-gram table ``(id, grams[, extras])`` — the
    shared parse pass for callers that feed the SAME corpus to more
    than one dedup funnel (guide §2.4: the tokenize+shingle pipeline is
    the expensive part; parse once, consume everywhere).  Pass the
    result to :func:`minhash_lsh_pairs` (``shingled=``, rename
    ``grams`` → ``shingles``) and/or :func:`ngram_jaccard_pairs`
    (``gram_table=``, with ``block`` in ``extra_cols``)."""
    return cached(
        _spread(df).select(
            F.col(id_col).alias("id"),
            F.array_distinct(
                T.word_ngrams(F.col(text_col), shingle_n)
            ).alias("grams"),
            *[F.col(c) for c in extra_cols],
        )
    )


def _minhash_tables(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    shingled: DataFrame | None = None,
):
    """Shared MinHash front-end: (persisted shingle table, band buckets).

    Materialize shingle sets once: three downstream consumers (signature,
    and both sides of the verification join) would otherwise recompute
    the full tokenize+shingle+md5 pipeline per consumer.  At cluster
    scale this persist becomes a checkpoint of the signature table.
    ``_spread`` the INPUT, not the projection: repartitioning the
    projected output would still compute the shingles upstream of the
    exchange on however few partitions the file scan produced.

    Signature via explode + hash-aggregate (one codegen pass; the
    higher-order ``transform``+``array_min`` form in
    functions.similarity.minhash_signature is interpreted per element —
    keep that for ad-hoc column use, not whole-table runs).

    Arithmetic MinHash: ONE md5 per shingle folded to a 31-bit integer,
    then ``num_hashes`` universal-hash permutations (a_i·h + b_i mod P)
    — codegen multiplies instead of 16 per-shingle md5s (the md5s were
    ~90% of the signature stage's CPU).  Identical constants are
    embedded in the DuckDB oracle, so the replay is still bit-exact.
    Zero-shingle docs drop out of candidates here; they could never
    pass verification (Jaccard with an empty set is 0).

    Band keys stay integer structs — the candidate shuffle carries
    (band, rpb longs, id) instead of 32-char digest strings.
    """
    rpb = num_hashes // bands
    P = S.MINHASH_P
    perms = S.minhash_perm_params(num_hashes)
    if shingled is None:
        shingled = (
            _spread(df)
            .select(
                F.col(id_col).alias("id"),
                F.array_distinct(
                    T.word_ngrams(F.col(text_col), shingle_n)
                ).alias("shingles"),
            )
            .transform(cached)
        )
    # else: caller supplies an ALREADY-PERSISTED (id, shingles) frame —
    # e.g. a shingle_table() shared with another funnel over the same
    # corpus; values must equal array_distinct(word_ngrams(text, n)).
    ex = shingled.select("id", F.explode("shingles").alias("s"))
    h32 = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long") % P
    hs = ex.select("id", h32.alias("h"))
    mins = hs.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % P).alias(f"m{i}")
            for i, (a, b) in enumerate(perms)
        ]
    )
    buckets = mins.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        *[
                            F.col(f"m{b * rpb + j}").alias(f"k{j}")
                            for j in range(rpb)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.*")
    return shingled, buckets


def incremental_minhash_dedup(
    corpus: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental-ingest dedup: for each ``incoming`` doc, its best
    near-duplicate already in ``corpus`` (if any) — the nightly-batch
    path at 100 TB, where re-running all-pairs dedup over the whole
    corpus per ingest is off the table.

    Returns (new_id, dup_of, jaccard): one row per incoming doc that has
    a corpus near-dup at ``jaccard_threshold`` or above; ``dup_of`` is
    the highest-Jaccard corpus match (ties → smallest corpus id).
    Incoming docs with no match produce no row — the caller's anti-join
    keep-list.

    Plan shape: both sides run the SAME banded-MinHash front-end as
    :func:`minhash_lsh_pairs`, but the candidate join is new×old only —
    never old×old.  The corpus bucket table is (band keys, id) longs; at
    cluster scale it is the persisted index the ingest job reads back,
    so each batch costs |incoming| signatures + one bucket equi-join
    against the index, not a corpus self-join.  Verification re-attaches
    shingle sets for candidates only, and the final per-new-id argmax is
    a window over candidates (bounded by bucket collision width).
    """
    sh_old, bk_old = _minhash_tables(
        corpus, text_col, id_col, shingle_n, num_hashes, bands
    )
    sh_new, bk_new = _minhash_tables(
        incoming, text_col, id_col, shingle_n, num_hashes, bands
    )
    rpb = num_hashes // bands
    left = bk_new.alias("l")
    right = bk_old.alias("r")
    key_eq = F.col("l.band") == F.col("r.band")
    for j in range(rpb):
        key_eq = key_eq & (F.col(f"l.k{j}") == F.col(f"r.k{j}"))
    cand = (
        left.join(right, key_eq)
        .select(
            F.col("l.id").alias("new_id"), F.col("r.id").alias("dup_of")
        )
        .distinct()
    )
    verified = (
        cand.join(
            sh_new.select(
                F.col("id").alias("new_id"), F.col("shingles").alias("sh_a")
            ),
            "new_id",
        )
        .join(
            sh_old.select(
                F.col("id").alias("dup_of"), F.col("shingles").alias("sh_b")
            ),
            "dup_of",
        )
        .select(
            "new_id",
            "dup_of",
            S.jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    w = Window.partitionBy("new_id").orderBy(
        F.desc("jaccard"), F.asc("dup_of")
    )
    return (
        verified.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + banded LSH, verified by
    exact shingle-set Jaccard.  Returns (id_a, id_b, jaccard), id_a < id_b.

    Plan shape (the scalable funnel):
      scan → project (shingles, signature, bands)   [no shuffle]
      explode bands → shuffle on (band, bucket)     [tiny rows]
      self-join within bucket → distinct pairs      [hash keys only]
      re-attach shingle sets (two broadcast-able semi-joins at SF-test
      size; hash-partitioned joins at scale) → exact Jaccard filter.
    """
    shingled, buckets = _minhash_tables(
        df, text_col, id_col, shingle_n, num_hashes, bands,
        shingled=shingled,
    )
    rpb = num_hashes // bands
    left = buckets.alias("l")
    right = buckets.alias("r")
    key_eq = (F.col("l.band") == F.col("r.band"))
    for j in range(rpb):
        key_eq = key_eq & (F.col(f"l.k{j}") == F.col(f"r.k{j}"))
    cand = (
        left.join(right, key_eq & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )

    sh = shingled
    verified = (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            # unrounded: an integer-ratio double is bit-identical across engines
            S.jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return verified


def planted_minhash_recall_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    plant_base: int = 100000,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Measured recall of the MinHash-LSH band tier at the PRODUCTION
    operating point (shingle Jaccard ≥ 0.8) via PLANTED near-duplicate
    documents — the text-side companion of
    :func:`planted_near_dup_recall_audit`.

    For every doc a copy is planted that keeps the first
    ``T − ceil(T/k)`` whitespace tokens (k id-cycled over {20, 10, 5},
    so planted pairs land across the Jaccard 0.9/0.8/0.7 operating
    bands); the (original, copy) pair is ground truth BY CONSTRUCTION.
    Each pair's EXACT shingle Jaccard is computed (one |pairs|-sized
    join against the persisted shingle table — linear, never O(n²))
    and pairs are bucketed by integer cross-multiplication
    (``10·|∩| ≥ 9·|∪|`` ⇒ 0.9 band, …) so banding is float-free.
    ``n_caught`` counts pairs colliding in ≥1 LSH band of the REAL
    production funnel (:func:`_minhash_tables`, identical constants to
    :func:`minhash_lsh_pairs`).

    One row per Jaccard band: (j_band, n_planted, n_caught, recall).
    Theory at 16 hashes / 8 bands of 2: recall ≥ 1−(1−J²)^8 — 0.9997
    at J = 0.8; the audit turns that formula into a measurement.
    """
    orig = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    # ONE tokenize pass (r12, guide §2.3/§2.4): the planted copy is a
    # token-slice of the original, so both union branches derive from
    # the same persisted (id, tokens) table and shingles come from
    # word_ngrams_from_tokens — the previous shape re-joined the slice
    # to a string and re-ran normalize+split per union branch (3×
    # total).  Value-identical: tokens(array_join(slice(tk, 1, L),
    # ' ')) == slice(tk, 1, L) for normalized tokens (single-space
    # join, no whitespace inside tokens), and the L = 0 edge ([] vs
    # ['']) collapses to the same single shingle under word_ngrams'
    # min-one-gram clamp.
    toks = cached(
        _spread(orig).select(
            "id", T.tokens(F.col("text")).alias("tk")
        )
    )
    planted_toks = toks.withColumn(
        "k",
        F.element_at(
            F.array(F.lit(20), F.lit(10), F.lit(5)),
            (F.col("id") % 3 + 1).cast("int"),
        ),
    ).select(
        (F.col("id") + F.lit(plant_base)).alias("id"),
        F.expr(
            "slice(tk, 1, size(tk) - "
            "CAST((size(tk) + k - 1) DIV k AS INT))"
        ).alias("tk"),
    )
    u_toks = toks.select("id", "tk").unionByName(planted_toks)
    shingled = cached(
        u_toks.select(
            "id",
            F.array_distinct(
                T.word_ngrams_from_tokens(F.col("tk"), shingle_n)
            ).alias("shingles"),
        )
    )
    shingled, buckets = _minhash_tables(
        orig, "text", "id", shingle_n, num_hashes, bands,
        shingled=shingled,
    )
    rpb = num_hashes // bands
    left, right = buckets.alias("l"), buckets.alias("r")
    key_eq = F.col("l.band") == F.col("r.band")
    for j in range(rpb):
        key_eq = key_eq & (F.col(f"l.k{j}") == F.col(f"r.k{j}"))
    cand = (
        left.join(right, key_eq & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    truth = orig.select(
        F.col("id").alias("id_a"),
        (F.col("id") + F.lit(plant_base)).alias("id_b"),
    )
    sh = shingled
    tj = (
        truth.join(
            sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("ni"),
            F.size(F.array_union("sh_a", "sh_b")).alias("nu"),
        )
        .select(
            "id_a",
            "id_b",
            F.when(10 * F.col("ni") >= 9 * F.col("nu"), F.lit(0.9))
            .when(10 * F.col("ni") >= 8 * F.col("nu"), F.lit(0.8))
            .when(10 * F.col("ni") >= 7 * F.col("nu"), F.lit(0.7))
            .otherwise(F.lit(0.0))
            .alias("j_band"),
        )
        .transform(cached)
    )
    caught = tj.join(cand, ["id_a", "id_b"], "left_semi").groupBy(
        "j_band"
    ).agg(F.count(F.lit(1)).alias("n_caught"))
    return (
        tj.groupBy("j_band")
        .agg(F.count(F.lit(1)).alias("n_planted"))
        .join(caught, "j_band", "left")
        .select(
            "j_band",
            "n_planted",
            F.coalesce(F.col("n_caught"), F.lit(0)).alias("n_caught"),
            (
                F.coalesce(F.col("n_caught"), F.lit(0)).cast("double")
                / F.col("n_planted").cast("double")
            ).alias("recall"),
        )
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc 64-bit SimHash (id, simhash).  Near-dup candidates = docs
    whose fingerprints agree on a 16-bit band (4 bands → hamming ≤ 3
    guaranteed caught by ≥1 band).

    Plan shape: explode distinct tokens → xxhash64 per token (scan-side,
    codegen) → hash-aggregate per doc with 64 ``sum(bit_i)`` columns +
    a token count → pack the fingerprint (bit i set ⟺ ones_i > T/2,
    identical to the sign of the ±1 SimHash fold).  Map-side partial
    aggregation collapses each partition to one row per doc before the
    shuffle, so the exchange carries ~#docs rows of 65 longs regardless
    of document length — the whole hot path stays in whole-stage codegen
    (a higher-order-function fold over a 64-wide array accumulator is
    interpreted per element and was ~20× slower).

    ``hash_fn``: ``"xxhash64"`` (default — fastest, JVM-native) or
    ``"md5"`` (``S.md5_hash64`` — slower but bit-identical in DuckDB, so
    the oracle can replay the fingerprints exactly; the registry query
    uses this one).
    """
    if hash_fn == "xxhash64":
        def _h(t: F.Column) -> F.Column:
            return F.xxhash64(t)
    elif hash_fn == "md5":
        _h = S.md5_hash64
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (xxhash64|md5)")
    arr = F.array_distinct(T.tokens(F.col(text_col)))
    tok = df.select(
        F.col(id_col).alias("id"),
        # explode_outer + null guard: a zero-token doc keeps one null row
        # (sum(null)=null → all bits 0 below) instead of vanishing.
        F.explode_outer(F.when(F.size(arr) > 0, arr)).alias("t"),
    ).select("id", F.when(F.col("t").isNotNull(), _h(F.col("t"))).alias("h"))
    counts = tok.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
            for i in range(64)
        ],
    )
    fp = F.lit(0).cast("long")
    for i in range(64):
        fp = fp.bitwiseOR(
            F.when(
                F.col(f"b{i}") * 2 > F.col("n"),
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
        )
    return counts.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into 4×16-bit
    keys (pigeonhole: hamming ≤ 3 ⇒ at least one band identical), bucket-join,
    verify by exact hamming distance.  Returns (id_a, id_b, hamming).
    The band funnel itself is :func:`hash64_band_pairs` (shared with the
    image dHash tier)."""
    fps = cached(
        simhash_fingerprints(_spread(df), text_col, id_col, hash_fn)
    )
    return hash64_band_pairs(
        fps, "simhash", id_col="id", max_hamming=max_hamming
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    prefix_filter: bool = False,
    gram_table: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs (id_a < id_b, jaccard ≥ threshold).

    Inverted-index **count-based exact set-similarity join** (the
    MapReduce formulation of Vernica et al., SIGMOD'10): explode each
    doc's distinct gram set to (block, gram, id, n), self-equi-join on
    (block, gram) with ``id_a < id_b``, and ``groupBy(pair).count()``.
    That count IS |A∩B| — each shared gram contributes exactly one
    joined row — so ``jaccard = inter / (na + nb - inter)`` in pure
    codegen integer arithmetic.  No per-pair ``array_intersect``/
    ``array_union`` (the naive verify re-evaluates those hash-set
    builds several times per pair once Catalyst pushes the predicate
    into the join condition), and pairs sharing zero grams never
    materialize at all.  At sf0.1 this is ~8× faster than the blocked
    all-pairs self-join (3.2 M pairs → one shuffle of gram
    co-occurrences).

    At 100 TB: shuffle rows are fixed-width (block, gram, id, n); the
    join fan-out is Σ_gram df², bounded by gram document frequency —
    for corpora with pathological stop-grams, add an AllPairs-style
    df-ascending prefix filter (drop each doc's ``ceil(t·n)-1``
    most-frequent grams before the join; lossless for candidate
    *generation*, then verify counted intersections against full sets)
    or cap df.  ``block_col`` (lang, source, length bucket) composes
    for additional pruning.
    """
    if gram_table is not None:
        # caller supplies an ALREADY-PERSISTED (id, grams, block) frame
        # (see shingle_table) — one parse pass shared across funnels
        base = gram_table.select("id", "grams", "block")
    else:
        base = (
            _spread(df)
            .select(
                F.col(id_col).alias("id"),
                F.array_distinct(T.word_ngrams(F.col(text_col), ngram_n)).alias("grams"),
                *( [F.col(block_col).alias("block")] if block_col else [F.lit(0).alias("block")] ),
            )
        )
    # Inverted index: one row per (block, gram, id); n = |gram set| rides
    # along so the final jaccard needs no join back to the doc table.
    tok = base.select(
        "id",
        "block",
        F.size("grams").alias("n"),
        F.explode("grams").alias("g"),
    ).transform(cached)
    if prefix_filter:
        return _ngram_jaccard_prefix(tok, threshold)
    pairs = (
        tok.alias("l")
        .join(
            tok.alias("r"),
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.g") == F.col("r.g"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.n").alias("na"),
            F.col("r.n").alias("nb"),
        )
    )
    inter = pairs.groupBy("id_a", "id_b", "na", "nb").agg(F.count("*").alias("inter"))
    return (
        inter.select(
            "id_a",
            "id_b",
            (
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _ngram_jaccard_prefix(tok: DataFrame, threshold: float) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered tier of ``ngram_jaccard_pairs`` —
    same output, built for corpora with pathological stop-grams.

    Lossless pruning: order grams globally by (document frequency asc,
    gram); a doc with n grams only indexes its first
    ``n - ceil(t·n) + 1`` grams in that order (its *prefix*).  Two docs
    with Jaccard ≥ t MUST share a prefix gram (if all shared grams sat
    outside both prefixes, the overlap would be < t·n on either side),
    so joining prefixes-only generates every qualifying pair — but
    frequent grams (the df² fan-out bombs) sort LAST and fall out of
    prefixes, bounding the join by rare-gram df².  A size filter
    (t·max(|A|,|B|) ≤ min — necessary for J ≥ t) prunes further, then
    exact Jaccard over the full gram arrays verifies the few survivors.
    """
    from pyspark.sql import Window

    dfreq = tok.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("g"))
    prefix = (
        tok.join(dfreq, "g")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
        .select("id", "block", "n", "g")
    )
    l, r = prefix.alias("l"), prefix.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.g") == F.col("r.g"))
            & (F.col("l.id") < F.col("r.id"))
            # size filter: J >= t forces t * max(na, nb) <= min(na, nb)
            & (
                F.lit(threshold) * F.greatest(F.col("l.n"), F.col("r.n"))
                <= F.least(F.col("l.n"), F.col("r.n"))
            ),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.n").alias("na"),
            F.col("r.n").alias("nb"),
        )
        .distinct()
    )
    # Count-based verify (r12, the q123/main-tier trick): |A∩B| = the
    # number of (id_a, id_b, gram) co-occurrences — candidates explode
    # by a's grams and probe b's postings, so no gram ARRAYS are ever
    # re-attached (the previous S.jaccard verify built two hash sets
    # per pair, and Catalyst's filter pushdown evaluated the
    # intersection twice for survivors).  jaccard = inter/(na+nb−inter)
    # — the same exact integer-ratio double (grams are distinct).
    inter = (
        cand.join(
            tok.select(F.col("id").alias("id_a"), "g"), "id_a"
        )
        .join(tok.select(F.col("id").alias("id_b"), "g"), ["id_b", "g"])
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            (
                F.col("__i") / (F.col("na") + F.col("nb") - F.col("__i"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.98,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold).

    With ``block_col`` (e.g. an IVF/LSH bucket from
    ``operators.similarity``) the self-join stays an equi-join; without it
    this is brute-force O(n²) — fine for verification tiers only.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        *( [F.col(block_col).alias("block")] if block_col else [F.lit(0).alias("block")] ),
    )
    l, r = base.alias("l"), base.alias("r")
    return (
        l.join(r, (F.col("l.block") == F.col("r.block")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(S.cosine_similarity(F.col("l.vec"), F.col("r.vec")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _hyperplane_candidates(
    df: DataFrame,
    dim: int,
    vec_col: str,
    id_col: str,
    n_planes: int,
    band_bits: int,
    seed: str,
    multi_probe: bool = False,
) -> DataFrame:
    """Distinct (id_a < id_b) hyperplane-LSH band-collision candidates —
    the shared candidate generator of
    :func:`embedding_near_dup_pairs_banded` and its recall audit.

    ``multi_probe`` is the recall knob (Lv et al., VLDB'07 multi-probe
    LSH, adapted to sign bands): the probe side additionally emits every
    1-bit flip of each band key, so a pair collides when some band's
    keys agree OR differ in exactly one sign bit.  Per-band catch
    probability goes from p^b to p^b + b·p^(b-1)(1-p) at the cost of
    (band_bits+1)× probe-side rows — candidates stay (band, key, id)
    triples, never vectors, so the shuffle grows by the same small
    constant and nothing else changes shape at 100 TB."""
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    # persist the (id, sig) table: it is tiny (two longs per vector) and
    # feeds BOTH sides of the band self-join — without it the Arrow matmul
    # stage runs twice.  At scale this persist becomes a checkpoint of the
    # signature table (same policy as minhash_lsh_pairs).
    signed = (
        similarity.lsh_signature(_spread(df), dim, n_planes, vec_col, seed)
        .select(id_col, "lsh_sig")
        .transform(cached)
    )
    banded = signed.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("lsh_sig"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    probe = banded
    if multi_probe:
        probe = banded.select(
            "id",
            "band",
            F.explode(
                F.array(
                    F.col("key"),
                    *[
                        F.col("key").bitwiseXOR(F.lit(1 << bit))
                        for bit in range(band_bits)
                    ],
                )
            ).alias("key"),
        )

    l, r = banded.alias("l"), probe.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
        # the candidate table is byte-small (two longs/row) so AQE
        # coalesces it to a few partitions — but each row fans out into a
        # 64-element dot product in the verify tier.  Re-spread by row
        # count, not bytes, so verification uses the whole cluster.
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )


def embedding_near_dup_recall_audit(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.98,
    n_planes: int = 16,
    band_bits: int = 4,
    seed: str = "owes",
) -> DataFrame:
    """Measured RECALL of the banded candidate tier vs the exact
    brute-force tier — the audited-vs-exact pattern the sketch family
    already follows (HLL q159, CMS q160, KLL q216), extended to the
    LSH candidate generators whose docstrings otherwise only CLAIM
    high recall.

    One output row: (threshold, n_true, n_caught, n_candidates,
    recall) where ``n_true`` counts brute-force pairs with cosine ≥
    threshold, ``n_caught`` those that also collide in ≥1 band, and
    ``recall = n_caught / n_true`` (NULL when no true pairs).  The
    exact tier is O(n²) BY CONTRACT — run the audit on a bounded
    deterministic sample (the registry query caps ids), never the full
    corpus; the banded tier itself has no such bound.
    """
    cand = _hyperplane_candidates(
        df, dim, vec_col, id_col, n_planes, band_bits, seed
    )
    true_pairs = cached(
        embedding_near_dup_pairs(df, vec_col, id_col, threshold)
        .select("id_a", "id_b")
    )
    n_true = true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
    n_caught = (
        true_pairs.join(cand, ["id_a", "id_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_caught"))
    )
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        n_true.crossJoin(F.broadcast(n_caught))
        .crossJoin(F.broadcast(n_cand))
        .select(
            F.lit(threshold).alias("threshold"),
            "n_true",
            "n_caught",
            "n_candidates",
            F.when(
                F.col("n_true") > 0,
                F.col("n_caught").cast("double")
                / F.col("n_true").cast("double"),
            ).alias("recall"),
        )
    )


def planted_near_dup_recall_audit(
    df: DataFrame,
    dim: int,
    targets: tuple[float, ...] = (0.90, 0.95, 0.98),
    plant_n: int = 300,
    plant_base: int = 10000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 16,
    band_bits: int = 4,
    seed: str = "owes",
    plant_seed: str = "plant",
    multi_probe: bool = False,
) -> DataFrame:
    """Measured recall of the banded hyperplane tier at the PRODUCTION
    operating point, via planted near-duplicates with exactly controlled
    cosine — closing the gap :func:`embedding_near_dup_recall_audit`
    leaves open (random testdata only offers weak similarities, so that
    audit measures recall at cos≈0.4; dedup thresholds live at 0.9+).

    Construction: for each original id i < ``plant_n`` with unit vector
    u, plant ``v = c·u + sqrt(1−c²)·ŵ⊥`` where c = targets[i mod |targets|]
    and ŵ⊥ is a deterministic md5-seeded direction orthogonalized
    against u — so cos(u, v) = c exactly (up to float ulps).  The
    planted pair (i, plant_base+i) is ground truth BY CONSTRUCTION: no
    O(n²) exact tier is needed, so unlike the random audit this one
    scales to any corpus.  All sums in the construction are sequential
    left-to-right doubles, replayed verbatim by the DuckDB oracle.

    One row per target: (target_cos, n_planted, n_caught, recall) where
    n_caught counts planted pairs colliding in ≥1 band of the REAL
    candidate generator (:func:`_hyperplane_candidates`, the exact
    funnel :func:`embedding_near_dup_pairs_banded` runs in production,
    incl. the ``multi_probe`` knob).
    """
    import math

    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    tgts = [float(t) for t in targets]

    def _plant(i, v):
        import hashlib as _hl

        x = [float(t) for t in v]
        c = tgts[i % len(tgts)]
        s = math.sqrt(1.0 - c * c)
        nx = 0.0
        for t in x:
            nx += t * t
        nx = math.sqrt(nx)
        u = [t / nx for t in x]
        w = [
            int(_hl.md5(f"{plant_seed}:{i}:{j}".encode()).hexdigest()[:8], 16)
            / 4294967295.0
            * 2.0
            - 1.0
            for j in range(len(x))
        ]
        proj = 0.0
        for wj, uj in zip(w, u):
            proj += wj * uj
        wp = [wj - proj * uj for wj, uj in zip(w, u)]
        nw = 0.0
        for t in wp:
            nw += t * t
        nw = math.sqrt(nw)
        return [
            (plant_base + i, [c * uj + s * (wj / nw) for uj, wj in zip(u, wp)])
        ]

    planted = flat_map(
        base.filter(F.col("id") < plant_n), ["id", "vec"],
        "id long, vec array<double>", _plant,
    )
    union = base.unionByName(planted)
    cand = _hyperplane_candidates(
        union, dim, "vec", "id", n_planes, band_bits, seed, multi_probe
    )
    tarr = F.array(*[F.lit(t) for t in tgts])
    truth = (
        base.filter(F.col("id") < plant_n)
        .select(
            F.col("id").alias("id_a"),
            (F.col("id") + F.lit(plant_base)).alias("id_b"),
            F.element_at(tarr, (F.col("id") % len(tgts) + 1).cast("int"))
            .alias("target_cos"),
        )
    )
    caught = truth.join(cand, ["id_a", "id_b"], "left_semi").groupBy(
        "target_cos"
    ).agg(F.count(F.lit(1)).alias("n_caught"))
    return (
        truth.groupBy("target_cos")
        .agg(F.count(F.lit(1)).alias("n_planted"))
        .join(caught, "target_cos", "left")
        .select(
            "target_cos",
            "n_planted",
            F.coalesce(F.col("n_caught"), F.lit(0)).alias("n_caught"),
            (
                F.coalesce(F.col("n_caught"), F.lit(0)).cast("double")
                / F.col("n_planted").cast("double")
            ).alias("recall"),
        )
    )


def embedding_near_dup_pairs_banded(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.98,
    n_planes: int = 16,
    band_bits: int = 4,
    seed: str = "owes",
    multi_probe: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH banding — the
    100 TB tier of ``embedding_near_dup_pairs``.

    Funnel (same shape as ``simhash_pairs``/``minhash_lsh_pairs``):

    1. scan-side sign signature per vector (``similarity.lsh_signature``,
       one Arrow-batched matmul, no shuffle);
    2. explode ``n_planes//band_bits`` band keys per row → equi-join on
       (band, key) with id_a < id_b → ``distinct`` candidate pairs.  The
       shuffle carries (band, key, id) triples only — never the vectors;
    3. join the two vectors back by id and verify exact cosine ≥ threshold.

    Approximate by design: a qualifying pair is emitted only if it agrees
    on ≥1 band (recall rises steeply with the threshold — near-dup
    thresholds ~0.9+ are caught with prob ≈1).  Deterministic end-to-end
    (md5-seeded hyperplanes), so the DuckDB oracle replays it exactly.
    ``dim`` must be the (fixed) embedding dimension.
    """
    cand = _hyperplane_candidates(
        df, dim, vec_col, id_col, n_planes, band_bits, seed, multi_probe
    )
    # normalize each vector ONCE (|V| rows), so per-pair verification is
    # a single dot-product fold instead of dot + two norms (3× the work
    # on the |candidates| >> |V| side of the funnel).  Zero-norm/NULL
    # vectors normalize to NULL → cosine NULL → filtered, same semantics
    # as cosine_similarity.
    inv = F.lit(1.0) / S.l2_norm(F.col(vec_col))
    unit = df.select(
        F.col(id_col).alias("id"),
        F.when(
            S.l2_norm(F.col(vec_col)) > 0,
            F.transform(F.col(vec_col), lambda x: x.cast("double") * inv),
        ).alias("vec"),
    )
    return (
        cand.join(unit.select(F.col("id").alias("id_a"), F.col("vec").alias("v_a")), "id_a")
        .join(unit.select(F.col("id").alias("id_b"), F.col("vec").alias("v_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(S.dot_product(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Directional containment join: (a, b) pairs where
    ``|grams(a) ∩ grams(b)| / |grams(a)| ≥ threshold`` — the
    quoted-inside / excerpt-of relation.  Symmetric Jaccard misses it
    (a 50-gram quote inside a 5000-gram page has Jaccard ≈ 0.01); this
    is the dedup tier that catches boilerplate excerpts and
    train-on-test quoting.

    Default path (r12): inverted-index **count-based verification**
    (Vernica et al., SIGMOD'10 — the :func:`ngram_jaccard_pairs`
    shape).  Explode each doc's distinct grams to (id, n, gram),
    self-equi-join on the gram with ``l.id < r.id``, and
    ``groupBy(pair).count()``: the count IS ``|A∩B|`` (grams are
    distinct per doc), and each unordered pair emits BOTH directional
    rows (``inter/na`` and ``inter/nb``) from one join.  No per-pair
    ``array_intersect`` — the previous probe-tier's verification
    re-built two hash sets per candidate (and Catalyst pushed the
    threshold into the join condition, evaluating the intersection
    TWICE for survivors); measured at sf0.1 the verify tail was 1.9 s
    of the query's 3.2 s for 692k candidates.  Join fan-out is
    Σ_gram df² — same documented bound and skew story as
    :func:`ngram_jaccard_pairs` (df=1 grams self-join to nothing; AQE
    splits residual hot grams).

    Returns (id_a, id_b, containment), id_a ≠ id_b, directional.
    """
    # cached: the exploded gram index feeds both self-join sides (the
    # ngram_jaccard_pairs convention — one parse+explode pass)
    ex = cached(
        _spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(
                T.word_ngrams(F.col(text_col), shingle_n)
            ).alias("grams"),
        )
        .select(
            "id", F.size("grams").alias("n"), F.explode("grams").alias("gram")
        )
    )
    l, r = ex.alias("l"), ex.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.gram") == F.col("r.gram"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.n").alias("na"),
            F.col("r.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    both = inter.select(
        "id_a",
        "id_b",
        (F.col("__i").cast("double") / F.col("na").cast("double")).alias(
            "containment"
        ),
    ).unionByName(
        inter.select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            (F.col("__i").cast("double") / F.col("nb").cast("double")).alias(
                "containment"
            ),
        )
    )
    return both.filter(F.col("containment") >= threshold)


def winnowing_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 8,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Local-fingerprint overlap pairs via winnowing (Schleimer et al.,
    SIGMOD'03 — MOSS): two documents pair iff they share at least
    ``min_shared`` selected fingerprints.  Winnowing's guarantee makes
    this the principled partial-plagiarism tier: ANY shared substring of
    length ≥ w+k-1 forces a common selected fingerprint, while only
    ~2/(w+1) of gram hashes are kept — unlike stride tiles
    (:func:`substring_dup_spans`' input) it is ALIGNMENT-INVARIANT (a
    one-char prefix shift moves every tile boundary but barely moves
    window minima).

    Scale shape: fingerprint selection is a scan-side expression
    (functions/text.py:winnowing_fingerprints); the only shuffles are
    the explode→self-equi-join on the 32-bit hash and the pair count —
    fixed-width keys, payload never shuffled.  Winnowing bounds how many
    fingerprints one DOCUMENT emits (~2/(w+1) density), but not how many
    documents share one FINGERPRINT: the pair join emits d² pairs for a
    fingerprint with document frequency d, so ubiquitous grams
    (boilerplate headers, license blocks) dominate at corpus scale.
    ``max_df`` is the standard MOSS noise filter for exactly that:
    fingerprints appearing in more than ``max_df`` documents are dropped
    BEFORE the pair join (same policy as the MinHash band-cap).  The
    heavy-fingerprint list is tiny by construction → broadcast anti-join,
    no extra shuffle of the posting table.  A dropped fingerprint can
    only LOWER n_shared — boilerplate-only overlaps disappear (that is
    the point); substantive overlaps keep their distinctive grams.

    Returns (id_a, id_b, n_shared), id_a < id_b.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # Selection is the hot loop: one md5 PER CHARACTER POSITION plus an
    # O(n·w) window scan — interpreted SQL lambdas cost ~100x here (543 s
    # vs ~4 s at sf0.1), so hashing+selection runs as an Arrow-batched
    # UDF (same justification as lsh_signature's matmul).  NORMALIZATION
    # STAYS JVM-SIDE (functions/text.py:normalize_text) so the bytes
    # hashed are exactly what the SQL expression tier and the DuckDB
    # oracle hash — md5 is bit-identical across all three.
    def _select(col):  # untyped: local pandas import breaks hint resolution
        md5 = hashlib.md5
        int_from = int.from_bytes
        out = []
        for s in col:
            if s is None or s == "":
                out.append([])
                continue
            # Grams are k CHARACTERS (encoded per gram), not k bytes of
            # the whole-string encoding: the SQL tier and the DuckDB
            # oracle both take substr() over characters, and md5 of a
            # Spark string hashes its UTF-8 bytes — so char-slice +
            # encode is the only scheme that agrees on non-ASCII text.
            # Per-gram cost trims (r12, guide §4.2 — this loop is one
            # md5 per character position): ASCII text encodes ONCE and
            # slices bytes (identical to char-slice+encode when every
            # char is 1 byte), and the hash folds from the raw digest
            # (int.from_bytes(digest[:4]) == int(hexdigest[:8], 16))
            # instead of hex-string formatting + parsing.
            n_g = max(len(s) - k + 1, 1)
            h = np.empty(n_g, dtype=np.int64)
            if s.isascii():
                b = s.encode("utf-8")
                for i in range(n_g):
                    h[i] = int_from(md5(b[i : i + k]).digest()[:4], "big")
            else:
                for i in range(n_g):
                    h[i] = int_from(
                        md5(s[i : i + k].encode("utf-8")).digest()[:4],
                        "big",
                    )
            if n_g <= w:
                sel = {int(h.argmin())}
            else:
                wins = np.lib.stride_tricks.sliding_window_view(h, w)
                # argmin takes the FIRST minimum → leftmost tie-break,
                # matching the SQL fold's keep-earlier semantics
                sel = set((wins.argmin(axis=1) + np.arange(len(wins))).tolist())
            out.append(sorted({int(h[p]) for p in sel}))
        return pd.Series(out)

    select_udf = pandas_udf(_select, "array<long>")
    sel = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(
            select_udf(T.normalize_text(F.col(text_col)))
        ).alias("h"),
    )
    if max_df is not None:
        # cached: the posting table feeds the df-count AND the pair
        # join — one Arrow selection pass, not two.
        sel = cached(sel)
        heavy = (
            sel.groupBy("h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("h")
        )
        # no explicit broadcast hint: the heavy-fingerprint set is tiny
        # on realistic inputs but not constant-bounded — let AQE decide
        # under autoBroadcastJoinThreshold so a pathological corpus
        # degrades to a shuffle anti-join instead of a driver OOM.
        sel = sel.join(heavy, "h", "left_anti")
    l, r = sel.alias("l"), sel.alias("r")
    return (
        l.join(r, (F.col("l.h") == F.col("r.h")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def golden_records(
    df: DataFrame,
    id_col: str,
    cluster_col: str,
    mode_cols: list[str],
    max_cols: list[str],
) -> DataFrame:
    """Survivorship merge ("golden record"): collapse each duplicate
    cluster to one canonical row — per attribute, the most frequent
    non-null value (ties → smallest value), per numeric the maximum,
    plus the smallest member id as the stable record key.  The classic
    MDM step after entity resolution: near-dup docs disagree on
    scraped metadata, downstream wants ONE row per entity.

    Shape: one cluster-grain aggregate for the base (min id, maxes,
    member count) plus one (cluster, value)-grain count + argmax per
    mode column — all hash aggregates keyed by cluster; the argmax is
    ``min(struct(-count, value))``, a deterministic total order any
    engine replays.  Joins between the per-column results are
    cluster-grain equi-joins (already co-partitioned by the aggregate's
    own shuffle, no extra exchange under AQE).

    Returns (cluster, record_id, n_members, <col>_mode..., <col>_max...).

    The input is consumed ``1 + len(mode_cols)`` times (base aggregate
    + one count-argmax per mode column), so when mode columns exist the
    NARROW projection (id, cluster, modes, maxes) is persisted once —
    upstream is typically an entity-resolution join that must not
    re-run per aggregate (guide §2.3 prune-then-persist, §2.4).
    """
    if mode_cols:
        need = list(dict.fromkeys(
            [id_col, cluster_col, *mode_cols, *max_cols]
        ))
        df = cached(df.select(*need))
    cl = F.col(cluster_col).alias("cluster")
    base = df.groupBy(cl).agg(
        F.min(F.col(id_col)).alias("record_id"),
        F.count(F.lit(1)).alias("n_members"),
        *[F.max(F.col(c)).alias(f"{c}_max") for c in max_cols],
    )
    out = base
    for c in mode_cols:
        counts = (
            df.filter(F.col(c).isNotNull())
            .groupBy(cl, F.col(c).alias("__v"))
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        mode = (
            counts.groupBy("cluster")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__cnt")).alias("neg"),
                        F.col("__v").alias("v"),
                    )
                ).alias("__top")
            )
            .select("cluster", F.col("__top.v").alias(f"{c}_mode"))
        )
        out = out.join(mode, "cluster", "left")
    return out


def repeated_tile_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tile: int = 16,
    min_tiles: int = 2,
    max_df: int = 64,
) -> DataFrame:
    """Maximal cross-document repeated SPANS — the exact-substring
    dedup primitive (Lee et al., "Deduplicating Training Data Makes
    Language Models Better": repeated spans, not whole-doc near-dups,
    are what verbatim memorization tracks).

    Complements :func:`substring_dup_spans` (q69), which only ACCOUNTS
    duplication per document (dup_frac for threshold filtering): this
    operator returns the PAIR identity and positions of each span —
    who shares what with whom, and where — which is what
    :func:`cut_longest_repeated_span` (q273) needs to actually remove
    the duplication.

    Construction: the text is cut into ``tile``-char aligned tiles
    (md5 fingerprints, the :func:`~occupation_wage_etl_spark.functions.
    text.rolling_fingerprints` grid WITH positions); tiles shared by
    two documents at a fixed alignment offset (diagonal
    ``ia - ib``) that sit at CONSECUTIVE tile indices merge into one
    maximal span via the islands trick (``ia - row_number()`` is
    constant within a run) — no quadratic pair-position scan, one
    window partitioned by (pair, diagonal), which is exactly the key
    the span belongs to.

    Scale shape: one explode (positioned tiles), the q20
    stop-fingerprint df-cap (``max_df``, the 100 TB linearity guard —
    boilerplate tiles carry no span signal), one equi-join on the tile
    hash, one bounded window, one aggregate.  Returns
    (id_a, id_b, a_start, b_start, n_tiles, span_chars) with
    ``a_start``/``b_start`` 0-based char offsets into the NORMALIZED
    text and ``span_chars = n_tiles * tile`` (aligned-grid resolution:
    true spans are detected once they cover ``min_tiles`` aligned
    tiles; sub-tile overhang is deliberately not chased — at corpus
    scale the grid loses at most ``2*(tile-1)`` boundary chars per
    span, and keeps the plan join+window shaped)."""
    tiles = _positioned_tiles(df, text_col, id_col, tile)
    return _spans_from_tiles(tiles, tile, min_tiles, max_df)


def _positioned_tiles(
    df: DataFrame, text_col: str, id_col: str, tile: int
) -> DataFrame:
    """(id, i, fp): the aligned md5 tile grid of
    :func:`repeated_tile_spans` — factored out so
    :func:`span_dedup_passes` can rebuild pass N+1's grid
    incrementally (only cut documents re-normalize + re-hash)."""
    s = T.normalize_text(F.col(text_col))
    k = F.greatest(
        F.ceil(F.length(s) / F.lit(tile)).cast("int"), F.lit(1)
    )
    arr = F.transform(
        F.sequence(F.lit(0), k - F.lit(1)),
        lambda i: F.md5(F.substring(s, i * F.lit(tile) + F.lit(1), tile)),
    )
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(arr).alias("i", "fp")
    )


def _spans_from_tiles(
    tiles: DataFrame, tile: int, min_tiles: int, max_df: int
) -> DataFrame:
    """Maximal-span extraction over a positioned tile grid — the
    df-cap + diagonal-islands tail of :func:`repeated_tile_spans`."""
    wdf = Window.partitionBy("fp")
    tiles = (
        tiles.withColumn("__df", F.count(F.lit(1)).over(wdf))
        .filter(F.col("__df") <= max_df)
        .drop("__df")
    )
    l, r = tiles.alias("l"), tiles.alias("r")
    hits = l.join(
        r,
        (F.col("l.fp") == F.col("r.fp")) & (F.col("l.id") < F.col("r.id")),
    ).select(
        F.col("l.id").alias("id_a"),
        F.col("r.id").alias("id_b"),
        F.col("l.i").alias("ia"),
        F.col("r.i").alias("ib"),
    )
    wrun = Window.partitionBy(
        "id_a", "id_b", F.col("ia") - F.col("ib")
    ).orderBy("ia")
    runs = hits.withColumn(
        "__grp", F.col("ia") - F.row_number().over(wrun)
    )
    return (
        runs.groupBy("id_a", "id_b", (F.col("ia") - F.col("ib")).alias("__d"), "__grp")
        .agg(
            F.min("ia").alias("__a0"),
            F.min("ib").alias("__b0"),
            F.count(F.lit(1)).alias("n_tiles"),
        )
        .filter(F.col("n_tiles") >= min_tiles)
        .select(
            "id_a",
            "id_b",
            (F.col("__a0") * tile).alias("a_start"),
            (F.col("__b0") * tile).alias("b_start"),
            "n_tiles",
            (F.col("n_tiles") * tile).alias("span_chars"),
        )
    )


def cut_longest_repeated_span(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply span-level dedup: for every document that appears as the
    HIGHER id of a repeated span (the min-id copy stays canonical, the
    q12 convention), cut its single LONGEST span out of the normalized
    text (ties → smallest b_start, then smallest partner id — a
    deterministic struct-argmax, no window).  One cut per doc per pass
    — the fixed-point loop (re-run spans → cut) is the caller's knob;
    one pass removes the dominant duplication mass, and a bounded pass
    count keeps the whole computation an oracle-replayable DAG.

    Returns (id, n_before, n_after, cut_chars, new_text_md5) for EVERY
    input document (cut_chars 0 where nothing was cut); the md5 gates
    the actual string surgery, not just the arithmetic."""
    s = T.normalize_text(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), s.alias("__s"))
    joined = base.join(_pick_longest_span(spans), "id", "left")
    new_text = _cut_span_expr()
    return joined.select(
        F.col("id").alias(id_col),
        F.length("__s").cast("long").alias("n_before"),
        F.length(new_text).cast("long").alias("n_after"),
        F.coalesce(F.col("__cut"), F.lit(0)).cast("long").alias(
            "cut_chars"
        ),
        F.md5(new_text).alias("new_text_md5"),
    )


def _pick_longest_span(spans: DataFrame) -> DataFrame:
    """(id, __b0, __cut): per id_b, the single longest span (ties →
    smallest b_start, then smallest partner id — deterministic
    struct-argmax, no window)."""
    return (
        spans.groupBy(F.col("id_b").alias("id"))
        .agg(
            F.max(
                F.struct(
                    F.col("span_chars").alias("len"),
                    (-F.col("b_start")).alias("nbs"),
                    (-F.col("id_a")).alias("nia"),
                )
            ).alias("__w")
        )
        .select(
            "id",
            (-F.col("__w.nbs")).alias("__b0"),
            F.col("__w.len").alias("__cut"),
        )
    )


def _cut_span_expr() -> F.Column:
    """New-text expression over (__s, __b0, __cut) columns: splice the
    picked span out; identity when no span was picked."""
    return F.when(
        F.col("__cut").isNotNull(),
        F.concat(
            F.substring(F.col("__s"), 1, F.col("__b0").cast("int")),
            F.substring(
                F.col("__s"),
                (F.col("__b0") + F.col("__cut") + 1).cast("int"),
                F.length("__s"),
            ),
        ),
    ).otherwise(F.col("__s"))


def span_dedup_passes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passes: int = 2,
    tile: int = 16,
    min_tiles: int = 2,
    max_df: int = 64,
) -> DataFrame:
    """BOUNDED fixed-point span dedup: ``passes`` rounds of
    (:func:`repeated_tile_spans` → cut each doc's longest span), as one
    lazy oracle-replayable DAG — the loop knob
    :func:`cut_longest_repeated_span` documents, made concrete.

    One pass removes each document's dominant repeated span; the
    SECOND pass catches the next-longest span that the first pass
    shadowed (a doc cuts ONE span per pass) and any pair whose only
    shared span survived because its partner cut a different copy.  A
    bounded pass count (2 by default — the Lee-et-al. duplication mass
    is head-heavy) keeps the computation a DAG rather than a
    driver-side convergence loop; each intermediate text is persisted
    via the operator cache so pass N+1's self-join does not recompute
    pass N twice.

    Returns (id, n_before, n_after, cut_chars_total, n_cuts,
    new_text_md5) for EVERY input document — n_before/n_after over the
    NORMALIZED text, the md5 gating the actual string surgery."""
    from occupation_wage_etl_spark.operators._cache import cached

    cur = df.select(
        F.col(id_col).alias("id"),
        T.normalize_text(F.col(text_col)).alias("__s"),
        F.lit(0).cast("long").alias("__cut_total"),
        F.lit(0).cast("int").alias("__n_cuts"),
    ).withColumn("__n0", F.length("__s").cast("long"))
    # NOTE (r12, measured and REJECTED): an incremental tile grid —
    # carry pass N's (id, i, fp) rows for uncut docs, re-tile only the
    # cut docs (value-identical by construction: the cut is identity
    # elsewhere) — was implemented and benched at sf0.1: 4.03 → 5.43 s
    # (×1.35).  Materializing the positioned tile grid (~200 rows/doc
    # of 32-char md5s) costs more than recomputing the codegen-fused
    # normalize+md5 inline with each pass's window+join, the same
    # persist-vs-recompute verdict as the r11 hash64_band_pairs
    # experiment.  The per-pass re-tile stays.
    for _ in range(max(passes, 0)):
        cur = cached(cur)
        spans = repeated_tile_spans(
            cur,
            text_col="__s",
            id_col="id",
            tile=tile,
            min_tiles=min_tiles,
            max_df=max_df,
        )
        cur = (
            cur.join(_pick_longest_span(spans), "id", "left")
            .select(
                "id",
                "__n0",
                _cut_span_expr().alias("__s"),
                (
                    F.col("__cut_total")
                    + F.coalesce(F.col("__cut"), F.lit(0))
                ).cast("long").alias("__cut_total"),
                (
                    F.col("__n_cuts")
                    + F.when(F.col("__cut").isNotNull(), 1).otherwise(0)
                ).cast("int").alias("__n_cuts"),
            )
        )
    return cur.select(
        F.col("id").alias(id_col),
        F.col("__n0").alias("n_before"),
        F.length("__s").cast("long").alias("n_after"),
        F.col("__cut_total").alias("cut_chars_total"),
        F.col("__n_cuts").alias("n_cuts"),
        F.md5("__s").alias("new_text_md5"),
    )


def hash64_band_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs over ANY precomputed 64-bit fingerprint column
    (SimHash, dHash, audio hashes …): band into 4×16-bit keys
    (pigeonhole: hamming ≤ 3 ⇒ at least one band identical — larger
    ``max_hamming`` trades recall, documented), bucket-join, verify by
    exact Hamming distance.  The :func:`simhash_pairs` funnel with the
    fingerprint computation factored out — e.g. feed
    ``multimodal.dhash64`` output for perceptual image dedup.
    Returns (id_a, id_b, hamming)."""
    fps = df.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h")
    )
    banded = fps.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("h"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select(
        "id", "h",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            S.hamming64(F.col("l.h"), F.col("r.h")).alias("hamming"),
        )
        # hamming is functionally determined by the pair, so filtering
        # BEFORE the distinct is equivalent — and shrinks the dedup
        # shuffle to surviving pairs only (multi-band collisions of
        # far-apart fingerprints die before the exchange)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
