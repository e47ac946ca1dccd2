"""Property tests for the 2-D skyline, mutual-NN alignment, incremental
MinHash dedup, session attribution, grouped top-k n-grams, and EWMA
(operators/preference.py, similarity.py, dedup.py, timeseries.py,
text_analysis.py — the q99–q104 registry surface).
"""

from __future__ import annotations

import datetime as dt
import itertools

from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators import (
    dedup,
    preference,
    similarity,
    text_analysis,
    timeseries,
)


# ---------------------------------------------------------------- skyline

def _parts(spark, rows):
    return spark.createDataFrame(rows, "pk long, price double, size int")


def test_skyline_matches_naive_dominance(spark):
    rows = [
        (1, 10.0, 5),
        (2, 10.0, 7),   # dominates 1 (same price, bigger)
        (3, 8.0, 7),    # dominates 2 (cheaper, same size)
        (4, 8.0, 7),    # exact tie with 3 → both stay
        (5, 12.0, 9),   # bigger but pricier → skyline
        (6, 12.0, 8),   # dominated by 5
        (7, 7.0, 1),    # cheapest → skyline
    ]
    df = _parts(spark, rows)
    got = {r.pk for r in preference.skyline_2d(df, "price", "size").collect()}

    # naive O(n²) dominance
    sky = set()
    for a in rows:
        dominated = any(
            b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2])
            for b in rows
        )
        if not dominated:
            sky.add(a[0])
    assert got == sky == {3, 4, 5, 7}


def test_skyline_of_union_is_skyline_of_skylines(spark):
    rows = [(i, float(10 + (i * 7) % 13), (i * 5) % 11) for i in range(40)]
    df = _parts(spark, rows)
    full = {r.pk for r in preference.skyline_2d(df, "price", "size").collect()}
    half_a = preference.skyline_2d(df.filter(F.col("pk") < 20), "price", "size")
    half_b = preference.skyline_2d(df.filter(F.col("pk") >= 20), "price", "size")
    merged = {
        r.pk
        for r in preference.skyline_2d(
            half_a.unionByName(half_b), "price", "size"
        ).collect()
    }
    assert merged == full


# ---------------------------------------------------------- mutual top-1

def test_mutual_top1_is_reciprocal_argmax(spark):
    a = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(10, [1.0, 0.1]), (11, [0.1, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.a_id, r.b_id)
        for r in similarity.mutual_top1_match(a, b).collect()
    }
    # 1→10 and 10→1 mutual; 2→11 and 11→2 mutual; 3's best is 10 (tie
    # cosine, id asc) but 10's best is 1 → 3 unmatched.
    assert got == {(1, 10), (2, 11)}


# ------------------------------------------------- incremental dedup

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_finds_corpus_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = _docs(
        spark,
        [(1, base), (2, "totally different content about spark engines"),
         (3, base + " extra")],
    )
    incoming = _docs(spark, [(100, base), (101, "nothing like anything")])
    out = dedup.incremental_minhash_dedup(
        corpus, incoming, jaccard_threshold=0.5
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.new_id, r.dup_of) == (100, 1)
    assert r.jaccard == 1.0


def test_incremental_dedup_never_pairs_old_with_old(spark):
    # two identical corpus docs must NOT appear in the output
    corpus = _docs(spark, [(1, "aaa bbb ccc ddd eee"), (2, "aaa bbb ccc ddd eee")])
    incoming = _docs(spark, [(100, "zzz yyy xxx www vvv")])
    out = dedup.incremental_minhash_dedup(
        corpus, incoming, jaccard_threshold=0.2
    ).collect()
    assert out == []


# ---------------------------------------------------------- attribution

def test_first_touch_attribution(spark):
    t = dt.datetime(2024, 1, 1, 9, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        # session 1: view → click → purchase (gap < 30 min)
        (1, 1, t, "view"),
        (2, 1, t + 5 * m, "click"),
        (3, 1, t + 10 * m, "purchase"),
        # 40-minute gap → session 2: purchase with itself as first touch
        (4, 1, t + 50 * m, "purchase"),
        # other user, no purchase → no rows
        (5, 2, t, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {
        r.event_id: (r.first_touch, r.usecs_to_convert)
        for r in timeseries.session_attribution(ev, gap_minutes=30).collect()
    }
    assert out == {
        3: ("view", 10 * 60 * 1_000_000),
        4: ("purchase", 0),
    }


# -------------------------------------------------------- top-k n-grams

def test_topk_ngrams_doc_frequency_not_term_frequency(spark):
    docs = spark.createDataFrame(
        [
            (1, "en", "a b a b a b a b"),   # spammy: many "a b" occurrences
            (2, "en", "c d"),
            (3, "en", "c d"),
        ],
        "doc_id long, lang string, text string",
    )
    out = text_analysis.topk_ngrams_per_group(docs, "lang", n=2, k=2).collect()
    by_rank = {r.rank: (r.gram, r.df) for r in out}
    # "c d" df=2 beats "a b" df=1 — a single doc counts once
    assert by_rank[1] == ("c d", 2)
    assert by_rank[2] == ("a b", 1)


# ---------------------------------------------------------------- ewma

def test_ewma_matches_python_fold(spark):
    t = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    vals = [10.0, 20.0, 30.0, 40.0, 50.0]
    ev = spark.createDataFrame(
        [(1, t + i * s, i, v) for i, v in enumerate(vals)],
        "user_id long, ts timestamp, event_id long, value double",
    )
    out = timeseries.ewma(
        ev, "user_id", "ts", "value", "event_id", alpha=0.5, window=3
    )
    got = {r.event_id: r.ewma for r in out.collect()}

    for i in range(len(vals)):
        w = vals[max(0, i - 2): i + 1]
        acc = w[0]
        for x in w[1:]:
            acc = acc * 0.5 + 0.5 * x
        assert got[i] == acc


def test_ewma_restarts_per_key(spark):
    t = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, t, 1, 100.0), (2, t, 2, 7.0)],
        "user_id long, ts timestamp, event_id long, value double",
    )
    out = timeseries.ewma(ev, "user_id", "ts", "value", "event_id")
    got = {r.user_id: r.ewma for r in out.collect()}
    assert got == {1: 100.0, 2: 7.0}


def test_skyline_drops_null_criteria_rows(spark):
    # NULL criteria have no dominance semantics; they must neither
    # appear in the skyline nor (Spark sorts NULLs FIRST on asc) poison
    # the running max that real rows are tested against.
    rows = [
        (1, 10.0, 5),
        (2, None, 99),   # NULL minimize — dropped
        (3, 8.0, None),  # NULL maximize — dropped
        (4, 8.0, 7),
    ]
    df = _parts(spark, rows)
    got = {r.pk for r in preference.skyline_2d(df, "price", "size").collect()}
    assert got == {4}


def test_mutual_top1_lsh_matches_dense_on_colinear_pairs(spark):
    # b vectors are scaled copies of their a partners: identical sign
    # signatures ⇒ guaranteed band collision, so the bucketed path must
    # recover exactly the dense mutual pairs.
    a = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(10, [2.0, 0.0]), (11, [0.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.a_id, r.b_id)
        for r in similarity.mutual_top1_match_lsh(a, b, dim=2).collect()
    }
    assert got == {(1, 10), (2, 11)}


def test_mutual_top1_lsh_candidate_volume_scales_with_band_keys(spark):
    # The scale guard behind q100's 64-plane/16-bit configuration: on a
    # DENSE-signature corpus (pseudo-random vectors -> near-uniform sign
    # bits), 16-bit bands must keep the band-join candidate volume a
    # tiny fraction of |A|x|B|, while 4-bit bands (16 keys/band) emit
    # a constant fraction of the cross product — structurally an
    # equi-join, numerically a cross join.
    import hashlib

    from occupation_wage_etl_spark.operators.similarity import lsh_signature

    dim, n = 16, 100

    def vec(i):
        return [
            int(hashlib.md5(f"cv:{i}:{d}".encode()).hexdigest()[:8], 16)
            / float(0xFFFFFFFF) * 2.0 - 1.0
            for d in range(dim)
        ]

    a = spark.createDataFrame(
        [(i, vec(i)) for i in range(n)], "vec_id long, embedding array<double>"
    )
    b = spark.createDataFrame(
        [(1000 + i, vec(1000 + i)) for i in range(n)],
        "vec_id long, embedding array<double>",
    )

    def n_candidates(n_planes, band_bits):
        n_bands, mask = n_planes // band_bits, (1 << band_bits) - 1
        def banded(df, side):
            sig = lsh_signature(df, dim, n_planes).select(
                F.col("vec_id").alias(f"{side}_id"), "lsh_sig"
            )
            return sig.select(
                f"{side}_id",
                F.explode(F.array(*[
                    F.struct(
                        F.lit(bn).alias("band"),
                        F.shiftright(F.col("lsh_sig"), bn * band_bits)
                        .bitwiseAND(F.lit(mask)).alias("key"),
                    )
                    for bn in range(n_bands)
                ])).alias("bk"),
            ).select(f"{side}_id", "bk.band", "bk.key")
        return (
            banded(a, "a").join(banded(b, "b"), ["band", "key"])
            .select("a_id", "b_id").distinct().count()
        )

    cross = n * n
    wide = n_candidates(64, 16)    # q100's configuration
    narrow = n_candidates(16, 4)   # the round-3 default under audit
    assert wide < 0.01 * cross, (wide, cross)
    # expected union prob over 4 independent 16-key bands:
    # 1 - (1 - 1/16)^4 ~= 0.227 of the cross product
    assert narrow > 0.2 * cross, (narrow, cross)


def test_mutual_top1_dense_cap_raises(spark):
    a = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    import pytest

    with pytest.raises(ValueError, match="mutual_top1_match_lsh"):
        similarity.mutual_top1_match(a, a, arrow_threshold=1, dense_cap=3)


def test_containment_pairs_lossless_vs_naive(spark):
    # b contains ALL of a's text (a is an excerpt); c is unrelated.
    a = "one two three four five six"
    b = "zero " + a + " seven eight nine ten eleven twelve thirteen"
    docs = _docs(spark, [(1, a), (2, b), (3, "alpha beta gamma delta")])
    out = {(r.id_a, r.id_b): r.containment
           for r in dedup.containment_pairs(docs, shingle_n=3,
                                            threshold=0.5).collect()}
    # every 3-gram of a appears in b → containment(a in b) = 1.0
    assert out[(1, 2)] == 1.0
    # b in a is NOT above threshold (b has many extra grams)
    assert (2, 1) not in out
    # naive check: no qualifying pair missed (losslessness)
    rows = {1: a, 2: b, 3: "alpha beta gamma delta"}
    def grams(s):
        t = s.split()
        return {" ".join(t[i:i+3]) for i in range(max(len(t)-2, 1))}
    for x in rows:
        for y in rows:
            if x == y:
                continue
            gx, gy = grams(rows[x]), grams(rows[y])
            c = len(gx & gy) / len(gx)
            assert (c >= 0.5) == ((x, y) in out), (x, y, c)


def test_containment_probe_bound_exact_at_t09(spark):
    # IEEE guard at the threshold itself: a has 10 distinct 3-grams and
    # b holds 9 of them, so a's containment is exactly 9/10, which must
    # compare >= 0.9 and keep the pair.
    words = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12".split()
    a = " ".join(words)              # 12 tokens → 10 distinct 3-grams
    b = " ".join(words[:11]) + " zz yy xx"  # grams g1..g9, not g10
    docs = _docs(spark, [(1, a), (2, b)])
    out = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(
            docs, shingle_n=3, threshold=0.9
        ).collect()
    }
    assert out[(1, 2)] == 0.9
