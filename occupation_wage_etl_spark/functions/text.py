"""Text-analysis expressions for large-scale training-data pipelines.

All hot-path functions are native Column expressions (JVM-side, inside
whole-stage codegen).  Designed for the ``documents`` table shape
(``doc_id, text, lang, source, n_chars``) but generic over any string column.

Operators covered (BASELINE.json north-star extensions):
- tokenization (whitespace + BPE-ish regex), token counting
- n-gram / shingle generation
- quality scoring (length / punctuation / uniqueness ratios)
- language-ID (stopword-hit n-gram heuristic)
- document fingerprinting (md5 content hash of the normalized text —
  md5 is portable across engines, which the DuckDB oracle relies on)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish word/token splitter: runs of letters, digits, or single
# non-space punctuation — a cheap regex stand-in for a real tokenizer.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny per-language stopword lists for the heuristic language-ID.
# deliberately small + hard-coded: broadcast as literals into the plan.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "por", "un"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "en", "un", "du", "que", "est"],
    "zh": ["de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"],
}


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace — canonical form for hashing/dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokenization → array<string> (empty array for blank text)."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def regex_token_count(col: Column) -> Column:
    """BPE-ish token count via ``TOKEN_RE`` (letters runs / digit runs /
    single punctuation) — closer to an LLM tokenizer's granularity."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_RE), 0)).cast("long")


def word_ngrams(col: Column, n: int) -> Column:
    """Word n-grams (shingles) as array<string>, space-joined.

    Pure ``transform``/``slice`` over the token array — no UDF, no shuffle.
    Documents shorter than ``n`` tokens yield a single shingle of the
    whole text (so every doc has ≥1 shingle and survives MinHash).
    """
    return word_ngrams_from_tokens(tokens(col), n)


def word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """:func:`word_ngrams` over an ALREADY-TOKENIZED array — for callers
    that derive token arrays directly (e.g. planted-copy synthesis by
    token slicing) and must not pay a join + re-normalize + re-split
    round-trip through text.  ``toks`` must equal ``tokens(text)`` for
    the text the grams describe."""
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), k - F.lit(1)),
        lambda i: F.array_join(F.slice(toks, i + F.lit(1), F.lit(n)), " "),
    )


def punct_ratio(col: Column) -> Column:
    """Fraction of non-space characters that are punctuation/symbols."""
    nonspace = F.regexp_replace(col, r"\s+", "")
    alnum = F.regexp_replace(nonspace, r"[A-Za-z0-9]", "")
    return F.when(F.length(nonspace) == 0, F.lit(0.0)).otherwise(
        F.length(alnum).cast("double") / F.length(nonspace).cast("double")
    )


def unique_token_ratio(col: Column) -> Column:
    """distinct tokens / total tokens — low values flag boilerplate/spam."""
    toks = tokens(col)
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double")
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    vocabulary diversity.  Weights are arbitrary but fixed (documented so
    the oracle can reproduce them exactly)."""
    n = F.length(col).cast("double")
    length_ok = F.when((n >= 100) & (n <= 20000), F.lit(1.0)).otherwise(
        F.when(n < 100, n / F.lit(100.0)).otherwise(F.lit(20000.0) / n)
    )
    return F.round(
        F.lit(0.4) * length_ok
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0)))
        + F.lit(0.3) * unique_token_ratio(col),
        6,
    )


# Unicode script blocks → language, for the script rung of language-ID:
# non-Latin scripts identify their language far more reliably than any
# stopword list (a page of Hangul IS Korean), and the check is one
# codegen regexp count per script.  zh is CJK ideographs WITHOUT kana
# (Japanese mixes kanji + kana, so any kana presence reclassifies).
SCRIPT_RANGES: dict[str, str] = {
    "zh": "[一-鿿]",
    "ja": "[぀-ヿ]",          # hiragana + katakana
    "ko": "[가-힯]",
    "ru": "[Ѐ-ӿ]",
    "el": "[Ͱ-Ͽ]",
    "ar": "[؀-ۿ]",
    "he": "[֐-׿]",
    "hi": "[ऀ-ॿ]",
    "th": "[฀-๿]",
}


def script_lang(col: Column) -> Column:
    """The script rung of language-ID: the language whose Unicode block
    covers ≥30% of the non-whitespace characters (argmax across
    :data:`SCRIPT_RANGES`; any kana presence turns a CJK verdict into
    ``ja``); NULL when no block dominates — Latin-script text falls
    through to the stopword rung.  Pure codegen (one
    ``regexp_replace``-count per script, a ``greatest`` reduction)."""
    nonspace = F.length(F.regexp_replace(col, r"\s", ""))
    counts = {
        # strip everything OUTSIDE the block; what remains is the count
        lang: F.length(F.regexp_replace(col, "[^" + rx[1:], ""))
        for lang, rx in SCRIPT_RANGES.items()
    }
    # argmax via ONE struct-array max — a greatest + per-lang CASE tree
    # would repeat every count expression ~10x and blow past the
    # whole-stage-codegen method-size limit (observed: janino compile
    # failure → interpreted fallback).  Struct compare is (count,
    # rank, lang); rank is reverse-alphabetical so ties pick the
    # alphabetically-smallest language, same rule as the stopword rung.
    langs = sorted(SCRIPT_RANGES)
    arr = F.array(
        *[
            F.struct(
                counts[lang].alias("c"),
                F.lit(len(langs) - 1 - i).alias("r"),
                F.lit(lang).alias("l"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    top = F.array_max(arr)
    best = top["c"]
    pick = F.when(
        (top["l"] == "zh") & (counts["ja"] > 0), F.lit("ja")
    ).otherwise(top["l"])
    return F.when(
        (nonspace > 0) & (best * 10 >= nonspace * 3), pick
    ).otherwise(F.lit(None).cast("string"))


def lang_id(col: Column) -> Column:
    """Heuristic language-ID: the language whose stopword list hits the most
    tokens; ties and zero-hit docs → 'und' (undetermined).

    Implemented as a literal map over ``LANG_STOPWORDS`` — one pass over the
    token array per language, a ``greatest`` reduction, no shuffle, no UDF.
    """
    toks = tokens(col)

    # unary lambda factory — a 2-param lambda would be read as (elem, index)
    def _contains(stop: Column):
        return lambda t: F.array_contains(stop, t)

    hit_structs = []
    # iterate in sorted order so ties break deterministically by language code
    for code in sorted(LANG_STOPWORDS):
        stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS[code]])
        hits = F.size(F.filter(toks, _contains(stop)))
        hit_structs.append(F.struct(hits.alias("hits"), F.lit(code).alias("code")))
    arr = F.array(*hit_structs)
    best = F.array_max(arr)
    n_best = F.size(F.filter(arr, lambda s: s["hits"] == best["hits"]))
    return (
        F.when(best["hits"] == 0, F.lit("und"))
        .when(n_best > 1, F.lit("und"))
        .otherwise(best["code"])
    )


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 hex of the normalized text.

    md5 was chosen over xxhash64 because it is bit-identical across Spark,
    DuckDB, and Python — the correctness oracle depends on that.  At 100 TB
    the md5 cost is dwarfed by the scan; swap to xxhash64 via this single
    choke point if oracle portability is ever not needed.
    """
    return F.md5(normalize_text(col))


def rolling_fingerprints(col: Column, window: int = 16) -> Column:
    """Rolling-window fingerprints: md5 of each ``window``-char slice at
    stride ``window`` — array<string>.  Used for partial-overlap detection
    (two docs sharing any rolling fingerprint are overlap candidates)."""
    s = normalize_text(col)
    k = F.greatest(F.ceil(F.length(s) / F.lit(window)).cast("int"), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), k - F.lit(1)),
        lambda i: F.md5(F.substring(s, i * F.lit(window) + F.lit(1), window)),
    )


def winnowing_fingerprints(
    col: Column, k: int = 8, w: int = 8
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash EVERY ``k``-char gram of the
    normalized text, then from each window of ``w`` consecutive gram
    hashes keep the minimum (tie → leftmost).  Guarantees every shared
    substring of length ≥ w+k-1 contributes at least one COMMON selected
    fingerprint between two documents, while storing only ~2/(w+1) of
    the grams — the local-fingerprinting tier between exact tiles
    (:func:`rolling_fingerprints`, alignment-sensitive) and MinHash
    (global, no position info).

    Pure scan-side expression — per row: one transform building the
    (hash, pos) gram array, one transform selecting per-window minima
    (O(n·w) comparisons), one array_distinct.  Hashes are the first 32
    md5 bits (as a long), so an oracle engine replays them exactly.
    Returns array<struct<h:long, pos:int>> of selected fingerprints.
    """
    s = normalize_text(col)
    n_g = F.greatest(F.length(s) - F.lit(k - 1), F.lit(1))
    gram_h = lambda i: F.conv(
        F.substring(F.md5(F.substring(s, i + F.lit(1), k)), 1, 8), 16, 10
    ).cast("long")
    arr = F.transform(
        F.sequence(F.lit(0), n_g - F.lit(1)),
        lambda i: F.struct(gram_h(i).alias("h"), i.cast("int").alias("pos")),
    )
    n_w = F.greatest(n_g - F.lit(w - 1), F.lit(1))
    pick = lambda sidx: F.aggregate(
        F.slice(arr, sidx + F.lit(1), w),
        F.struct(
            F.lit(None).cast("long").alias("h"),
            F.lit(None).cast("int").alias("pos"),
        ),
        lambda acc, x: F.when(
            acc["h"].isNull()
            | (x["h"] < acc["h"]),
            x,
        ).otherwise(acc),
    )
    return F.array_distinct(
        F.transform(F.sequence(F.lit(0), n_w - F.lit(1)), pick)
    )


# Fixed alphabet for char_entropy: the 26 ASCII letters + space.  A
# FIXED literal list (not data-derived) keeps the per-class counts a
# pure projection and the entropy sum a fixed-order expression tree.
ENTROPY_ALPHABET = [chr(c) for c in range(ord("a"), ord("z") + 1)] + [" "]


def char_entropy(col: Column) -> Column:
    """Shannon entropy (nats, 6dp) of the character distribution over
    ``ENTROPY_ALPHABET`` — a language/garbage signal (natural prose sits
    near its language's typical entropy; base64 blobs and key-mash run
    high, repeated-char padding runs low).

    Per-class counts use the replace trick —
    ``length(s) - length(replace(s, ch))`` — 27 codegen'd scans of the
    string, ZERO explodes/shuffles.  Entropy folds those counts in one
    fixed-order double tree (H = ln N - Σ c·ln c / N), so every engine
    adds the same 27 terms in the same order; the single 6dp round at
    the end absorbs cross-engine libm ULP drift (see queries.py
    determinism rules).
    """
    s = F.lower(col)
    counts = [
        F.length(s) - F.length(F.replace(s, F.lit(ch), F.lit("")))
        for ch in ENTROPY_ALPHABET
    ]
    n = counts[0]
    for c in counts[1:]:
        n = n + c
    nd = n.cast("double")
    acc = F.lit(0.0)
    for c in counts:
        cd = c.cast("double")
        acc = acc + F.when(c > 0, cd * F.log(cd)).otherwise(F.lit(0.0))
    return F.when(n > 0, F.round(F.log(nd) - acc / nd, 6)).otherwise(
        F.lit(None).cast("double")
    )
