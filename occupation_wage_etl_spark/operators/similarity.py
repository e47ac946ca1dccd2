"""Similarity search over embedding columns (array<float>).

Two tiers:

- ``brute_force_knn`` — exact cosine top-k.  One scan-side projection
  computing the cosine against a literal (plan-embedded) query vector,
  then ``TakeOrderedAndProject``.  At 100 TB this is a full scan but NO
  shuffle — the per-partition top-k fold is all Spark does before the
  driver merge of k rows per partition.
- ``lsh_knn`` — random-hyperplane LSH bucketing: probe only rows whose
  sign-signature matches the query's in ≥1 band.  Hyperplanes are
  deterministic (seeded md5-derived pseudo-randoms) so plans are
  reproducible across runs/engines.

Also ``ivf_assign``/``ivf_knn`` — a light IVF variant: centroids learned
once (driver-side k-means on a sample), then assignment is a scan-side
argmin; queries probe the nearest ``n_probe`` centroids' partitions only.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from occupation_wage_etl_spark.functions import similarity as S
from occupation_wage_etl_spark.operators._cache import checkpoint


def _as_double_array(values: Sequence[float]) -> F.Column:
    return F.array(*[F.lit(float(v)).cast("double") for v in values])


def brute_force_knn(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.

    Returns (id, cosine) ordered desc, ties broken by id asc (deterministic).
    """
    q = _as_double_array(query_vec)
    return (
        df.select(
            F.col(id_col),
            F.round(S.cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _pseudo_random_hyperplanes(dim: int, n_planes: int, seed: str = "owes") -> list[list[float]]:
    """Deterministic hyperplanes in [-1,1]^dim from md5(seed:plane:coord).

    Not cryptographic randomness — just a reproducible, dependency-free
    source of well-spread directions (md5 bytes are uniform).
    """
    planes = []
    for p in range(n_planes):
        coords = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            coords.append(int(h[:8], 16) / float(0xFFFFFFFF) * 2.0 - 1.0)
        planes.append(coords)
    return planes


def lsh_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    vec_col: str = "embedding",
    seed: str = "owes",
) -> DataFrame:
    """Append a random-hyperplane sign signature column ``lsh_sig`` (long).

    bit p = 1 iff dot(vec, plane_p) ≥ 0.  A scan-side projection — no
    shuffle.  Dense (n × dim) @ (dim × n_planes) is the one place
    built-in expressions lose badly: per-plane higher-order folds are
    interpreted per element AND embed dim-sized literal arrays per plane
    into the plan (n_planes × dim literal nodes — analysis cost alone is
    visible).  A vectorized Arrow-batched pandas UDF does the whole batch
    as one float64 matmul.
    """
    planes_t = np.asarray(
        _pseudo_random_hyperplanes(dim, n_planes, seed), dtype=np.float64
    ).T  # (dim, n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("long")
    def _sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        if vecs.isna().any():  # null vector → zero vector (sign bits all 1)
            zero = np.zeros(planes_t.shape[0], dtype=np.float64)
            vecs = vecs.apply(lambda v: zero if v is None else v)
        m = np.vstack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = (m @ planes_t) >= 0.0  # (batch, n_planes)
        return pd.Series(bits @ weights)

    return df.withColumn("lsh_sig", _sig(F.col(vec_col)))


def lsh_knn(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_planes: int = 16,
    band_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "owes",
) -> DataFrame:
    """Approximate top-k: probe only rows sharing ≥1 signature band with
    the query, then exact cosine on the survivors.

    With ``n_planes=16, band_bits=4`` → 4 bands; collision prob for
    cosine-similar vectors is high while the probe set shrinks ~16× per
    band on random data.  At scale, persist ``lsh_signature`` output
    bucketed by a band column to turn probes into partition pruning.
    """
    dim = len(query_vec)
    planes = _pseudo_random_hyperplanes(dim, n_planes, seed)
    qsig = 0
    for p, plane in enumerate(planes):
        dot = sum(float(a) * b for a, b in zip(query_vec, plane))
        if dot >= 0:
            qsig |= 1 << p
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1

    signed = lsh_signature(df, dim, n_planes, vec_col, seed)
    band_match = None
    for b in range(n_bands):
        qband = (qsig >> (b * band_bits)) & mask
        cond = F.shiftright(F.col("lsh_sig"), b * band_bits).bitwiseAND(F.lit(mask)) == qband
        band_match = cond if band_match is None else (band_match | cond)

    q = _as_double_array(query_vec)
    return (
        signed.filter(band_match)
        .select(
            F.col(id_col),
            F.round(S.cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def lsh_knn_recall_audit(
    df: DataFrame,
    dim: int,
    query_ids: Sequence[int],
    k: int = 10,
    n_planes: int = 16,
    band_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "owes",
) -> DataFrame:
    """Measured recall@k of the :func:`lsh_knn` probe vs the exact
    brute-force top-k, over a PANEL of query vectors — the
    audited-vs-exact pattern (q159/q160/q216) for the ANN tier.  A
    single query's recall@10 is a 10-trial sample with huge variance
    (the 4 band keys are shared across all its neighbors); a panel
    gives a stable number.

    One row per query id: (query_id, k, n_candidates, n_hit, recall).
    Fully set-based — every query is probed in ONE banded equi-join
    (no per-query driver loop): band keys of the panel join band keys
    of the corpus, exact cosines rank per query under a window whose
    group count = |panel| (parameter-sized by contract).  The exact
    tier scores |panel| × N pairs — bound the panel, not the corpus.
    """
    from occupation_wage_etl_spark.operators._cache import cached

    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    qids = [int(q) for q in query_ids]
    signed = cached(
        lsh_signature(df, dim, n_planes, vec_col, seed).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "lsh_sig"
        )
    )

    def banded(frame: DataFrame, idc: str) -> DataFrame:
        return frame.select(
            F.col("id").alias(idc),
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
        ).select(idc, "bk.band", "bk.key")

    queries = signed.filter(F.col("id").isin(qids))
    cand = cached(
        banded(queries, "qid")
        .join(banded(signed, "vid"), ["band", "key"])
        .filter(F.col("qid") != F.col("vid"))
        .select("qid", "vid")
        .distinct()
    )
    # exact cosine of every (query, corpus) pair: the panel is
    # parameter-sized, so it broadcasts onto the corpus scan
    scored = cached(
        signed.select(F.col("id").alias("vid"), F.col("vec").alias("v"))
        .join(
            F.broadcast(
                queries.select(
                    F.col("id").alias("qid"), F.col("vec").alias("qv")
                )
            ),
            F.col("vid") != F.col("qid"),
        )
        .select(
            "qid",
            "vid",
            F.round(
                S.cosine_similarity(F.col("v"), F.col("qv")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("cosine"), F.asc("vid")
    )
    exact = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", "vid")
    )
    approx = (
        scored.join(cand, ["qid", "vid"], "left_semi")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", "vid")
    )
    hits = exact.join(approx, ["qid", "vid"], "left_semi").groupBy(
        "qid"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    n_exact = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("__nx"))
    n_cand = cand.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    return (
        n_exact.join(F.broadcast(n_cand), "qid", "left")
        .join(F.broadcast(hits), "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.lit(k).alias("k"),
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias(
                "n_candidates"
            ),
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("__nx").cast("double")
            ).alias("recall"),
        )
    )


def ivf_assign(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each row to its nearest centroid (``ivf_cell`` column).

    Centroids are literals in the plan; assignment is an argmax over
    cosines — scan-side only.  Persisting the output partitioned by
    ``ivf_cell`` makes future probes partition-pruned.
    """
    structs = ", ".join(
        f"named_struct('cos', {S.cosine_vs_literal_sql(vec_col, c)}, "
        f"'cell', {i})"
        for i, c in enumerate(centroids)
    )
    best = F.expr(f"array_max(array({structs}))")
    return df.withColumn("ivf_cell", best["cell"])


def ivf_knn(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe: rank centroids by cosine to the query (driver-side —
    #centroids is small), filter to the best ``n_probe`` cells, exact
    cosine top-k on the survivors."""
    def cos(a: Sequence[float], b: Sequence[float]) -> float:
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = sum(float(x) ** 2 for x in a) ** 0.5
        nb = sum(float(y) ** 2 for y in b) ** 0.5
        return dot / (na * nb) if na > 0 and nb > 0 else -1.0

    ranked = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i], query_vec))
    probe = ranked[:n_probe]
    q = _as_double_array(query_vec)
    return (
        ivf_assign(df, centroids, vec_col)
        .filter(F.col("ivf_cell").isin(probe))
        .select(
            F.col(id_col),
            F.round(S.cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def grouped_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding centroid as (group, dim, centroid, n_vectors).

    The scalable shape for vector aggregation: ``posexplode`` turns the
    array column into (group, dim, value) rows scan-side, and one
    hash-aggregate shuffle on (group, dim) computes every component mean
    with map-side partial aggregation -- no per-group array buffering,
    no UDF.  The mean is a float fold (partition-order-dependent in the
    last bits), so per this repo's determinism rules it is rounded to
    6dp -- note a DECIMAL-sum would NOT fix cross-engine equality here,
    because Spark casts float->decimal through the value's shortest
    string form while DuckDB converts the exact binary value.  ``dim``
    is 1-based.

    Reassembling (group, dim, centroid) rows into array form when needed
    downstream is ``array_sort(collect_list(struct(dim, centroid)))`` --
    kept out of this operator so the aggregate output stays streamable.
    """
    ex = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("i", "v"),
    )
    return (
        ex.groupBy("grp", "i")
        .agg(
            F.avg(F.col("v").cast("double")).alias("m"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .select(
            F.col("grp").alias(group_col),
            (F.col("i") + 1).cast("long").alias("dim"),
            F.round(F.col("m"), 6).alias("centroid"),
            "n_vectors",
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): 8-byte codes + asymmetric-distance top-k
# ---------------------------------------------------------------------------

def _pq_uniform(seed: str, *idx: int) -> float:
    """Deterministic uniform in [-1, 1] from md5(seed:i:j:...) — same
    construction as ``_pseudo_random_hyperplanes`` so the DuckDB oracle
    replays it with ``('0x' || substr(md5(...), 1, 8))::BIGINT``."""
    h = hashlib.md5((seed + ":" + ":".join(str(i) for i in idx)).encode()).hexdigest()
    return int(h[:8], 16) / float(0xFFFFFFFF) * 2.0 - 1.0


def pq_codebook(
    spark,
    dim: int,
    n_sub: int = 8,
    n_cent: int = 16,
    seed: str = "pq",
) -> DataFrame:
    """(m, c, cent: array<double>) — a deterministic random codebook:
    centroid j-th coordinate = md5-uniform(seed:m:c:j) in [-1, 1].

    Production PQ trains per-subspace k-means; a seeded random codebook
    keeps the operator dependency-free and bit-replayable by the oracle
    while exercising the identical plan shape (the trained codebook
    would simply replace this literal table — it is broadcast either
    way).  ``n_cent=16`` → 4 bits/subspace → a dim-64 float32 vector
    (256 B) compresses to 8 nibbles (4 B), a 64× scan-size reduction
    for the ANN candidate pass at 100 TB.
    """
    sub = dim // n_sub
    rows = [
        (m, c, [_pq_uniform(seed, m, c, j) for j in range(sub)])
        for m in range(n_sub)
        for c in range(n_cent)
    ]
    return spark.createDataFrame(rows, "m int, c int, cent array<double>")


def pq_codes(
    df: DataFrame,
    dim: int,
    n_sub: int = 8,
    n_cent: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "pq",
) -> DataFrame:
    """(id, m, c): nearest codebook centroid per subspace for every
    vector (NULL vectors are dropped).

    Plan: slice each vector into ``n_sub`` subvectors scan-side
    (explode → (id, m, sv) — fixed-width rows), broadcast-join the
    ``n_sub·n_cent``-row codebook, compute squared L2 per candidate in
    codegen, then one hash-aggregate picks ``min(struct(dist, c))`` per
    (id, m) — ties break toward the smaller code, so assignment is
    total-ordered and engine-portable.  No shuffle carries a full
    vector: the exchange rows are (id, m, dist, c).
    """
    sub = dim // n_sub
    cb = pq_codebook(df.sparkSession, dim, n_sub, n_cent, seed)
    subs = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(F.col(vec_col), m * sub + 1, sub).alias("sv"),
                    )
                    for m in range(n_sub)
                ]
            )
        ).alias("s"),
    ).select("id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    dist = subs.join(F.broadcast(cb), "m").select(
        "id",
        "m",
        "c",
        F.aggregate(
            F.zip_with(
                F.col("sv"),
                F.col("cent"),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("dist"),
    )
    best = dist.groupBy("id", "m").agg(
        F.min(F.struct(F.col("dist"), F.col("c"))).alias("b")
    )
    return best.select("id", "m", F.col("b.c").alias("c"))


def pq_adc_topk(
    df: DataFrame,
    dim: int,
    n_sub: int = 8,
    n_cent: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "pq",
    query_seed: str = "pqq",
    k: int = 10,
) -> DataFrame:
    """Top-k nearest vectors to a deterministic query by PQ asymmetric
    distance (ADC): adc(x) = Σ_m ‖q_m − cent[m][code_m(x)]‖².

    The query vector is md5-uniform(query_seed:d) per coordinate — the
    oracle replays it; swapping in a real query vector changes only the
    literal.  The q→centroid lookup table (n_sub·n_cent rows) is
    computed in-engine on the broadcast codebook, so the scored scan
    touches ONLY the 8-nibble codes — never the raw vectors; that is
    the entire point of PQ at 100 TB.  The per-doc sum is a fixed-order
    add over the ``n_sub`` partial columns (order-independent result),
    and top-k is TakeOrderedAndProject with id tiebreak.

    Output: (id, pq_code, adc) — ``pq_code`` is the dash-joined code
    word, ``adc`` rounded to 6dp.
    """
    sub = dim // n_sub
    q = [_pq_uniform(query_seed, d) for d in range(dim)]
    cb = pq_codebook(df.sparkSession, dim, n_sub, n_cent, seed)
    # pair cent with the m-th SLICE of q: element_at picks this row's
    # subspace slice from a literal array-of-slices.
    qd = cb.select(
        "m",
        "c",
        F.aggregate(
            F.zip_with(
                F.element_at(
                    F.array(
                        *[
                            F.array(*[F.lit(float(v)) for v in q[m * sub : (m + 1) * sub]])
                            for m in range(n_sub)
                        ]
                    ),
                    F.col("m") + 1,
                ),
                F.col("cent"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("qdist"),
    )
    codes = pq_codes(df, dim, n_sub, n_cent, vec_col, id_col, seed)
    scored = codes.join(F.broadcast(qd), ["m", "c"])
    per_sub = scored.groupBy("id").agg(
        *[
            F.sum(F.when(F.col("m") == m, F.col("qdist"))).alias(f"d{m}")
            for m in range(n_sub)
        ],
        *[
            F.sum(F.when(F.col("m") == m, F.col("c"))).alias(f"c{m}")
            for m in range(n_sub)
        ],
    )
    adc = F.lit(0.0)
    for m in range(n_sub):
        adc = adc + F.col(f"d{m}")
    code = F.concat_ws(
        "-", *[F.col(f"c{m}").cast("int").cast("string") for m in range(n_sub)]
    )
    return (
        per_sub.select(
            F.col("id").alias(id_col),
            code.alias("pq_code"),
            F.round(adc, 6).alias("adc"),
        )
        .orderBy(F.asc("adc"), F.asc(id_col))
        .limit(k)
    )


def mutual_top1_match(
    a: DataFrame,
    b: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    arrow_threshold: int = 64,
    dense_cap: int = 200_000,
) -> DataFrame:
    """Reciprocal best-match pairs between two embedding sets (the
    dataset-alignment primitive: bitext mining, image↔caption linking,
    cross-snapshot entity matching all reduce to it).

    Row (x, y) is emitted iff y is x's highest-cosine neighbour in ``b``
    AND x is y's highest-cosine neighbour in ``a`` — mutual nearest
    neighbours, the standard high-precision alignment filter.

    Scoring tiers (same policy as ``lsh_signature``'s matmul):

    - ``count(b) > arrow_threshold`` → ``mapInPandas`` over ``a`` with
      the collected ``b`` matrix in the closure: per Arrow batch, one
      vectorized dim-step accumulation loop scores every (a, b) pair.
      The accumulation runs IN INDEX ORDER (``acc += A[:,i]·B[:,i]``),
      so every cosine is bit-identical to the interpreted JVM fold and
      to the DuckDB oracle's sequential ``list_sum`` — vectorization
      across ROWS, exactness across DIMS.  ``b`` must fit driver memory
      — the same bound as the ``F.broadcast`` it replaces; at larger
      fan-outs generate candidates with ``ivf_knn``/``lsh_knn`` buckets
      and apply the same mutual filter to the candidate pairs.
    - small ``b`` (tests, ad-hoc) → broadcast join + interpreted fold
      (zero driver collect).

    Both tiers emit ALL pair scores and leave rounding (6dp, the
    cross-engine float-fold guard) and the two windowed argmax passes to
    Spark — tie semantics (cosine desc, partner id asc) live in ONE
    place.  Each window partitions by one side's id, so ranking scales
    with that side's cardinality.
    """
    an = a.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("__av"))
    bn = b.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("__bv"))
    b_n = bn.count()
    if b_n > dense_cap:
        # The dense tier collects ALL of b to the driver — correct and
        # fast for verification-scale inputs, impossible at corpus
        # scale.  Fail loudly instead of OOMing the driver; the scale
        # path is mutual_top1_match_lsh (bucketed candidates, no
        # collect), which is also the registry query's route.
        raise ValueError(
            f"mutual_top1_match dense tier: b has {b_n} rows > "
            f"dense_cap={dense_cap}; use mutual_top1_match_lsh for "
            "corpus-scale alignment (bucketed LSH candidates, no "
            "driver collect)"
        )
    b_rows = bn.collect() if b_n > arrow_threshold else None
    if b_rows:
        b_ids = np.array([r["b_id"] for r in b_rows], dtype=np.int64)
        B = np.stack(
            [np.asarray(r["__bv"], dtype=np.float64) for r in b_rows]
        )
        b_norm = _seq_norms(B)

        def score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["__av"]]
                )
                dots = _seq_dots(A, B)
                a_norm = _seq_norms(A)
                denom = np.outer(a_norm, b_norm)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / denom
                valid = (a_norm[:, None] > 0) & (b_norm[None, :] > 0)
                n_a, n_b = dots.shape
                cos_col = pd.Series(cos.ravel()).where(
                    pd.Series(valid.ravel()), other=pd.NA
                ).astype("Float64")
                yield pd.DataFrame(
                    {
                        "a_id": np.repeat(
                            pdf["a_id"].to_numpy(np.int64), n_b
                        ),
                        "b_id": np.tile(b_ids, n_a),
                        "cosine": cos_col,
                    }
                )

        scored = an.mapInPandas(
            score, "a_id long, b_id long, cosine double"
        ).select("a_id", "b_id", F.round("cosine", 6).alias("cosine"))
    else:
        scored = an.join(F.broadcast(bn)).select(
            "a_id",
            "b_id",
            F.round(
                S.cosine_similarity(F.col("__av"), F.col("__bv")), 6
            ).alias("cosine"),
        )
    wa = Window.partitionBy("a_id").orderBy(F.desc("cosine"), F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc("cosine"), F.asc("a_id"))
    ranked = scored.select(
        "a_id",
        "b_id",
        "cosine",
        F.row_number().over(wa).alias("__ra"),
        F.row_number().over(wb).alias("__rb"),
    )
    return ranked.filter(
        (F.col("__ra") == 1) & (F.col("__rb") == 1)
    ).select("a_id", "b_id", "cosine")


def mutual_top1_match_lsh(
    a: DataFrame,
    b: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 64,
    band_bits: int = 16,
    seed: str = "owes",
) -> DataFrame:
    """Corpus-scale mutual best-match: reciprocal top-1 pairs over LSH
    CANDIDATES instead of all |A|×|B| pairs — the registry/production
    path (the dense tier in :func:`mutual_top1_match` is capped to
    verification-scale inputs).

    Candidate generation is the same banded random-hyperplane scheme as
    :func:`lsh_knn`: both sides get a deterministic ``n_planes``-bit
    sign signature (one Arrow matmul scan, no shuffle), each signature
    splits into ``n_planes/band_bits`` bands, and (a, b) is a candidate
    iff SOME band matches exactly — an equi-join on (band, key), never
    a cross join.  Candidates get the exact interpreted-fold cosine
    (6dp-rounded, bit-identical to the DuckDB oracle), then the same two
    windowed argmax passes as the dense tier pick reciprocal best
    matches AMONG CANDIDATES.

    Scale shape: shuffles carry (band, key, id) triples and candidate
    id pairs — fixed-width, uniformly-hashed keys; the vector payload
    is re-attached by id-join only for scoring.  No driver collect
    anywhere; every stage is an equi-join or a per-id window.  Approx
    vs dense: a true mutual pair is missed only when the pair collides
    in NO band (prob (1-s^band_bits)^n_bands for sign agreement s) —
    the standard LSH recall trade, same policy as
    ``embedding_near_dup_pairs_banded`` (q21).

    BAND-KEY CARDINALITY is the scale parameter: a band has
    2^band_bits possible keys, and for near-uniform signatures the band
    equi-join emits ≈ |A|·|B| / 2^band_bits candidates PER BAND — with
    4-bit bands that is numerically ~¼ of the cross product dressed as
    an equi-join.  The 64-plane / 16-bit default gives 65,536 keys per
    band (expected candidate volume ≈ n_bands·|A|·|B|/65,536 on random
    data, and far fewer on clustered real embeddings); raise
    ``n_planes``/``band_bits`` further if |A|·|B|/2^band_bits
    approaches your shuffle budget.
    """
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1

    def banded(df: DataFrame, side: str) -> DataFrame:
        sig = lsh_signature(df, dim, n_planes, vec_col, seed).select(
            F.col(id_col).alias(f"{side}_id"), "lsh_sig"
        )
        return sig.select(
            f"{side}_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bnum).alias("band"),
                            F.shiftright(F.col("lsh_sig"), bnum * band_bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("key"),
                        )
                        for bnum in range(n_bands)
                    ]
                )
            ).alias("bk"),
        ).select(f"{side}_id", "bk.band", "bk.key")

    cand = (
        banded(a, "a")
        .join(banded(b, "b"), ["band", "key"])
        .select("a_id", "b_id")
        .distinct()
    )
    an = a.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("__av"))
    bn = b.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("__bv"))
    pairs = cand.join(an, "a_id").join(bn, "b_id")

    # Candidate volume is quadratic-ish in bucket density, so scoring is
    # the hot loop: an interpreted per-element fold costs dim lambda
    # evaluations PER PAIR.  Score each Arrow batch with one vectorized
    # dim-step accumulation instead — acc += A[:,i]·B[:,i] runs IN INDEX
    # ORDER, so every cosine is bit-identical to the JVM fold and the
    # DuckDB oracle's sequential list_sum (same policy as
    # mutual_top1_match's dense tier).
    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__av"]]
            )
            B = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__bv"]]
            )
            acc = np.zeros(len(pdf))
            na = np.zeros(len(pdf))
            nb = np.zeros(len(pdf))
            for i in range(A.shape[1]):
                acc += A[:, i] * B[:, i]
                na += A[:, i] * A[:, i]
                nb += B[:, i] * B[:, i]
            denom = np.sqrt(na) * np.sqrt(nb)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / denom
            valid = (na > 0) & (nb > 0)
            yield pd.DataFrame(
                {
                    "a_id": pdf["a_id"].to_numpy(np.int64),
                    "b_id": pdf["b_id"].to_numpy(np.int64),
                    "cosine": pd.Series(cos).where(
                        pd.Series(valid), other=pd.NA
                    ).astype("Float64"),
                }
            )

    scored = pairs.mapInPandas(
        score, "a_id long, b_id long, cosine double"
    ).select("a_id", "b_id", F.round("cosine", 6).alias("cosine"))
    wa = Window.partitionBy("a_id").orderBy(F.desc("cosine"), F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc("cosine"), F.asc("a_id"))
    ranked = scored.select(
        "a_id",
        "b_id",
        "cosine",
        F.row_number().over(wa).alias("__ra"),
        F.row_number().over(wb).alias("__rb"),
    )
    return ranked.filter(
        (F.col("__ra") == 1) & (F.col("__rb") == 1)
    ).select("a_id", "b_id", "cosine")


def _seq_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """All-pairs dot products with the accumulation order of a
    sequential per-element fold: ``acc_i ← acc_i + A[:,i]·B[:,i]`` —
    bit-identical to the JVM ``aggregate``/DuckDB ``list_sum`` fold
    (np.matmul would pairwise-sum and drift ULPs)."""
    acc = np.zeros((A.shape[0], B.shape[0]))
    for i in range(A.shape[1]):
        acc += A[:, i][:, None] * B[:, i][None, :]
    return acc


def _seq_norms(M: np.ndarray) -> np.ndarray:
    acc = np.zeros(M.shape[0])
    for i in range(M.shape[1]):
        acc += M[:, i] * M[:, i]
    return np.sqrt(acc)


def int8_quantize_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector int8 affine quantization audit: the compression step
    embedding stores apply before ANN serving, reported as (scale, code
    range, reconstruction MSE) per vector so a pipeline can gate on
    quantization loss before committing to int8 storage.

    code  = clamp(floor((x - min) / scale + 0.5), 0, 255)
    x̂     = min + code·scale,   scale = (max - min)/255

    All per-ROW array arithmetic (two higher-order folds + a transform)
    — zero shuffles, scales with the scan.  Every float op is the same
    fixed expression tree in the DuckDB oracle, and the MSE fold runs in
    index order, so results are bit-stable.  Constant vectors
    (max == min) quantize losslessly to code 0 with scale 0 — guarded to
    avoid 0/0.

    Returns (id, vmin, vmax, scale_factor, mse).
    """
    v = F.col(vec_col)
    vmin = F.array_min(v).cast("double")
    vmax = F.array_max(v).cast("double")
    scale = (vmax - vmin) / F.lit(255.0)
    code = lambda x: F.least(
        F.greatest(
            F.floor((x.cast("double") - vmin) / scale + F.lit(0.5)),
            F.lit(0.0),
        ),
        F.lit(255.0),
    )
    err = lambda x: (
        (vmin + code(x) * scale) - x.cast("double")
    )
    sq = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: acc + err(x) * err(x),
    )
    mse = F.when(scale > 0, sq / F.size(v)).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col).alias("id"),
        vmin.alias("vmin"),
        vmax.alias("vmax"),
        F.when(scale > 0, scale).otherwise(F.lit(0.0)).alias("scale_factor"),
        mse.alias("mse"),
    )


def mmr_rerank(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    pool: int = 16,
    lam_num: int = 1,
    lam_den: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein '98):
    from the exact top-``pool`` cosine candidates, greedily select ``k``
    results maximizing ``λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`` — the
    standard diversification step between ANN retrieval and a result
    page / dedup-aware context assembly.

    Split of labor: candidate scoring is distributed (the brute-force
    scan + ``TakeOrderedAndProject`` of :func:`brute_force_knn`, plus a
    pool×pool pairwise cosine join — all 6dp-rounded JVM folds); the
    greedy selection runs DRIVER-SIDE over the ``pool``-bounded
    candidate table (a model-parameter-sized collect, same policy as
    the IVF centroid seeds — ``pool`` is a constant, never data-sized).
    λ is the exact rational ``lam_num/lam_den`` and every score is the
    fixed tree ``(qcos·num − maxsim·(den−num)) / den`` over 6dp-rounded
    doubles, so an oracle replays selection bit-exactly.

    Rank 1 is pure relevance (``max_sim`` NULL, score = qcos).  Ties
    break (score desc, id asc).  Returns
    (rank, id, qcos, max_sim, mmr_score).
    """
    pool_df = brute_force_knn(df, query_vec, k=pool, vec_col=vec_col, id_col=id_col)
    pv = df.select(F.col(id_col).alias("__pid"), F.col(vec_col).alias("__pv"))
    # coalesce(1): the pool is `pool` rows; without it the non-equi
    # self-join below fans out to partitions² empty tasks
    pool_v = (
        pool_df.join(pv, pool_df[id_col] == pv["__pid"])
        .select(F.col(id_col).alias("id"), F.col("cosine").alias("qcos"), "__pv")
        .coalesce(1)
        .transform(checkpoint)
    )
    pc = (
        pool_v.alias("a")
        .join(pool_v.alias("b"), F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            F.round(
                S.cosine_similarity(F.col("a.__pv"), F.col("b.__pv")), 6
            ).alias("c"),
        )
    )
    qcos = {r["id"]: r["qcos"] for r in pool_v.select("id", "qcos").collect()}
    sims = {(r["ia"], r["ib"]): r["c"] for r in pc.collect()}

    selected: list[tuple] = []
    chosen: list = []
    remaining = set(qcos)
    for rank in range(1, min(k, len(qcos)) + 1):
        if rank == 1:
            best = max(remaining, key=lambda d: (qcos[d], -d))
            selected.append((1, best, qcos[best], None, qcos[best]))
        else:
            def score(d):
                ms = max(sims[(d, s)] for s in chosen)
                return ((qcos[d] * lam_num - ms * (lam_den - lam_num))
                        / lam_den, ms)
            best = max(remaining, key=lambda d: (score(d)[0], -d))
            sc, ms = score(best)
            selected.append((rank, best, qcos[best], ms, sc))
        chosen.append(best)
        remaining.discard(best)
    return df.sparkSession.createDataFrame(
        selected,
        f"rank int, {id_col} long, qcos double, max_sim double, "
        "mmr_score double",
    )


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    x_scale: int = 10**4,
    v_scale: int = 10**6,
    iters: int = 6,
) -> DataFrame:
    """Top principal-component score per embedding — "which axis
    explains this corpus" plus a per-vector coordinate along it (the
    embedding-drift / outlier-slice readout), computed ENTIRELY in
    exact integer arithmetic so the result is bit-identical in any
    engine, any partitioning:

    1. quantize: ``x = floor(x_float · x_scale)`` (floor, not round —
       round's half-way rule differs across engines; floor does not);
    2. one Arrow ``mapInPandas`` pass emits per-batch int64 Gramians of
       the HOMOGENEOUS vectors [x, 1] — the d+1 column of the Gramian
       carries Σx and the corner carries n, so means need no second
       scan (int64 ``X'X`` per batch is exact; the global sum is an
       exact DECIMAL(38,0) hash-aggregate, order-independent).  This is
       the justified Python tier: the d² inner loop as a numpy matmul
       instead of an interpreted per-element fold;
    3. scatter matrix ``C = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ`` (= n² × covariance,
       still integral), derived from the ONE collected Gramian — a
       (d+1)²-row parameter-sized collect, the same driver-side
       contract as ``stats.multi_ols``'s d×d Gaussian elimination;
    4. ``iters`` fixed-point power-iteration rounds DRIVER-SIDE in
       arbitrary-precision Python ints (d² multiplies per round —
       microseconds; running them as distributed stages costs ~18
       scheduler round-trips for 64-row frames): ``w = C·v``, then
       max-normalize back to ``±v_scale`` with sign-safe TRUNCATING
       division (``sign(w)·((|w|·v_scale) // max|w|)`` — written with
       abs() because SQL engines disagree on negative integer
       division: Spark `div` truncates, DuckDB `//` floors; on
       non-negative operands they agree);
    5. canonical sign: flip so the coordinate with the largest |v|
       (ties → lowest index) is positive — eigenvectors are
       sign-ambiguous, plans should not be;
    6. projection (the second and last distributed pass):
       ``score_scaled = n·(x·v) − (Σx)·v`` per vector (centered dot
       product scaled by n·x_scale·v_scale) via explode + broadcast
       join against the 64-row eigenvector frame, emitted both raw
       (exact integer as double) and normalized to original units.

    Magnitude budget (why the scales are what they are): with |x_float|
    ≤ 1 and n ≤ 10⁶, C ≤ n²·x_scale² = 10²⁰ and C·v ≤ 10²⁶ — inside
    DECIMAL(38,0); the projection stays under 2⁶³.  Raise scales only
    with the budget re-checked.

    Returns (id, pc1_scaled, pc1) — pc1 = score/(n·x_scale·v_scale).
    """
    d38 = "decimal(38,0)"
    spark = df.sparkSession

    def _gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mats = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            xq = np.floor(mats * x_scale).astype(np.int64)
            a = np.hstack(
                [xq, np.ones((xq.shape[0], 1), dtype=np.int64)]
            )
            g = a.T @ a  # exact int64: |entry| <= rows * x_scale^2
            dd = g.shape[0]
            ii, jj = np.meshgrid(
                np.arange(dd), np.arange(dd), indexing="ij"
            )
            yield pd.DataFrame(
                {
                    "i": ii.ravel().astype("int32"),
                    "j": jj.ravel().astype("int32"),
                    "g": g.ravel(),
                }
            )

    gram_rows = (
        df.select(vec_col)
        .mapInPandas(_gram, "i int, j int, g long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("g").cast(d38)).alias("g"))
        .collect()  # (d+1)² rows — parameter-sized, multi_ols contract
    )
    gram = {(r["i"], r["j"]): int(r["g"]) for r in gram_rows}
    if not gram:  # empty corpus: no rows to score
        return df.select(
            F.col(id_col),
            F.lit(None).cast("double").alias("pc1_scaled"),
            F.lit(None).cast("double").alias("pc1"),
        )
    d = max(i for i, _ in gram)  # homogeneous column index
    n = gram[(d, d)]
    sx = [gram[(d, j)] for j in range(d)]
    cm = [
        [n * gram[(i, j)] - sx[i] * sx[j] for j in range(d)]
        for i in range(d)
    ]

    # power iteration in arbitrary-precision Python ints — identical
    # integers to the decimal recurrence, zero scheduler round-trips
    vec = [v_scale] * d
    for _ in range(iters):
        w = [sum(cm[i][j] * vec[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in w)
        if m == 0:  # degenerate scatter (all rows identical after
            break  # quantization, or a single row): keep vec as-is
        vec = [
            -((-x * v_scale) // m) if x < 0 else (x * v_scale) // m
            for x in w
        ]
    # canonical sign: the largest-|v| coordinate (ties -> lowest j) > 0
    lead = max(range(d), key=lambda j: (abs(vec[j]), -j))
    if vec[lead] < 0:
        vec = [-x for x in vec]
    sxv = sum(sx[j] * vec[j] for j in range(d))

    from decimal import Decimal

    vdf = F.broadcast(
        spark.createDataFrame(
            [(j, Decimal(vec[j])) for j in range(d)],
            f"j int, v {d38}",
        )
    )
    xs = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("j", "xf"),
    ).select(
        "id",
        F.col("j").cast("int").alias("j"),
        F.floor(F.col("xf").cast("double") * x_scale)
        .cast("long")
        .alias("x"),
    )
    dots = (
        xs.join(vdf, "j")
        .groupBy("id")
        .agg(F.sum(F.col("x").cast(d38) * F.col("v")).alias("xv"))
    )
    denom = float(x_scale) * float(v_scale)
    n_lit = F.expr(f"CAST('{n}' AS {d38})")
    sxv_lit = F.expr(f"CAST('{sxv}' AS {d38})")
    score = (n_lit * F.col("xv") - sxv_lit).cast("string").cast("double")
    return dots.select(
        F.col("id").alias(id_col),
        score.alias("pc1_scaled"),
        (score / F.lit(float(n) * denom)).alias("pc1"),
    )


def kmeans_lloyd_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    x_scale: int = 10**4,
) -> DataFrame:
    """Distributed Lloyd k-means run ENTIRELY in exact integer
    arithmetic — quantized coordinates, integer squared distances,
    floored-integer centroid means — so assignments, centroids, and
    inertia are bit-identical in any engine on any partitioning (float
    k-means is not even run-to-run reproducible on a cluster: centroid
    means change with partition order).  The in-engine clustering
    companion to :func:`ivf_assign` (whose centroids come from a
    driver-side sample); use this when the clustering itself must be
    auditable.

    Recurrence (``iters`` full Lloyd rounds, unrolled lazily):

    - quantize ``x = floor(x_float · x_scale)`` per dimension
      (long-form explode — whole-stage codegen, no Python);
    - seeds: the ``k`` smallest ids' vectors (TakeOrdered — no scan
      order dependence), centroid id = rank among seeds;
    - assign: argmin over centroids of Σⱼ (xⱼ − cⱼ)² — exact BIGINT;
      ties break to the smallest centroid id via struct-min;
    - update: cⱼ = TRUNCATED integer mean (sign-safe ``div``; truncation
      chosen because Spark's `div` truncates while SQL `//` floors —
      the oracle replays truncation with a CASE on the sign).

    Shape per round (Arrow tier — no row expansion): centroids live on
    the DRIVER as a k×d int64 array (parameter-sized, the multi_ols /
    pca_top_component collect contract; one k·d-row collect per round,
    iters+1 scheduler round-trips total — the textbook Spark k-means
    loop shape, cf. MLlib's KMeans).  Each round is ONE ``mapInPandas``
    pass over the cached (id, vec) projection: per Arrow batch, a numpy
    int64 matmul computes every row's exact squared distance to every
    centroid (Σx² − 2·x@cᵀ + Σc², identical integers to the Σ(x−c)²
    fold — int64 algebra is associative, the ``similarity.py`` LSH-
    scorer accumulation contract), argmin over centroid columns sorted
    by cid (first-minimum = smallest cid, reproducing the struct-min
    tie-break), then a per-batch PARTIAL (cid, j, Σx, n) table — at
    most k·d rows per batch — feeds a tiny JVM hash-aggregate.  Nothing
    data-sized ever shuffles: the old n·k·d explode funnel (×(k·d) row
    expansion through two shuffles per round) is gone.  Overflow bound:
    coordinates must satisfy |x·x_scale| ≲ 3·10⁹/√d so the int64
    distance algebra cannot wrap (10⁴-scaled unit-norm embeddings are
    5 orders inside it).  Empty clusters simply drop out (standard
    Lloyd behavior).  Returns, after a final assignment pass under the
    last centroids: (cluster, n_vecs, inertia, centroid_sum) — inertia
    in x_scale² units, centroid_sum = Σⱼ cⱼ an exact integrity
    checksum.
    """
    import numpy as np
    import pandas as pd

    from occupation_wage_etl_spark.operators._cache import cached

    spark = df.sparkSession
    out_schema = "cluster long, n_vecs long, inertia long, centroid_sum long"
    src = cached(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    # vectors-only projection for the per-round Arrow passes: the
    # cached InMemoryTableScan prunes to one column, so ids never
    # cross the Arrow boundary (seeds are the only consumer of id)
    vsrc = src.select("v")

    def _quant(col) -> "np.ndarray":
        # same IEEE ops as F.floor(cast double * x_scale): float32 ->
        # float64 is exact, one double multiply, floor -> int64
        mats = np.stack([np.asarray(v, dtype=np.float64) for v in col])
        return np.floor(mats * x_scale).astype(np.int64)

    def _argmin(xq, cid_b, c_b):
        d2 = (
            (xq * xq).sum(axis=1, keepdims=True)
            - 2 * (xq @ c_b.T)
            + (c_b * c_b).sum(axis=1)[None, :]
        )
        pos = d2.argmin(axis=1)  # first min = smallest cid (sorted asc)
        return cid_b[pos], d2[np.arange(len(pos)), pos]

    # seeds: the k smallest ids' vectors (no scan-order dependence),
    # centroid id = rank among seeds; k rows -> driver quantization
    seed_rows = src.orderBy("id").limit(k).collect()
    if not seed_rows:
        return spark.createDataFrame([], out_schema)
    cids = np.arange(len(seed_rows), dtype=np.int64)
    cent = _quant([r["v"] for r in seed_rows])

    for _ in range(iters):

        def _partials(batches, cid_b=cids, c_b=cent):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                xq = _quant(pdf["v"])
                a, _ = _argmin(xq, cid_b, c_b)
                cs, js, ss, ns = [], [], [], []
                for c in np.unique(a):  # <= k iterations
                    m = a == c
                    s = xq[m].sum(axis=0)  # exact int64 partial
                    n = int(m.sum())
                    cs.extend([int(c)] * xq.shape[1])
                    js.extend(range(xq.shape[1]))
                    ss.extend(int(v) for v in s)
                    ns.extend([n] * xq.shape[1])
                yield pd.DataFrame(
                    {"cid": cs, "j": js, "s": ss, "n": ns}
                )

        rows = (
            vsrc.mapInPandas(_partials, "cid long, j int, s long, n long")
            .groupBy("cid", "j")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()  # k·d rows — parameter-sized
        )
        by: dict = {}
        for r in rows:
            by.setdefault(int(r["cid"]), {})[int(r["j"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        cids = np.array(sorted(by), dtype=np.int64)
        d = cent.shape[1]
        cent = np.empty((len(cids), d), dtype=np.int64)
        for i, c in enumerate(cids):
            for j in range(d):
                s, n = by[c][j]
                # TRUNCATED integer mean (Spark `div` semantics; SQL
                # `//` floors — the oracle replays the sign CASE)
                cent[i, j] = s // n if s >= 0 else -((-s) // n)

    def _final(batches, cid_b=cids, c_b=cent):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xq = _quant(pdf["v"])
            a, dist = _argmin(xq, cid_b, c_b)
            acc: dict = {}
            for c, dd in zip(a, dist):
                n0, s0 = acc.get(int(c), (0, 0))
                acc[int(c)] = (n0 + 1, s0 + int(dd))
            yield pd.DataFrame(
                {
                    "cluster": list(acc),
                    "n": [v[0] for v in acc.values()],
                    "inertia": [v[1] for v in acc.values()],
                }
            )

    sizes = (
        vsrc.mapInPandas(_final, "cluster long, n long, inertia long")
        .groupBy("cluster")
        .agg(F.sum("n").alias("n_vecs"), F.sum("inertia").alias("inertia"))
    )
    sums = spark.createDataFrame(
        [(int(c), int(s)) for c, s in zip(cids, cent.sum(axis=1))],
        "cluster long, centroid_sum long",
    )
    return sizes.join(F.broadcast(sums), "cluster").orderBy("cluster")
