"""JSONL corpus source — the interchange format LLM training corpora
actually ship in (Common Crawl derivatives, RedPajama/Dolma dumps,
annotation exports: one JSON object per line, gzip-friendly, appendable).

The reference ingests only HTML/Excel (``pipeline/load_data.py``); a
training-data engine needs line-JSON as a first-class source.  Built on
Spark's native distributed JSON reader — each file split parses in
parallel, schema is ENFORCED (never inferred in production: inference
costs an extra full pass and drifts when a field goes all-null in one
dump) — with the two policies corpus ingestion always needs:

- **corrupt-record quarantine** (PERMISSIVE + ``columnNameOfCorruptRecord``):
  a torn line or truncated object lands in ``_corrupt_record`` instead
  of killing the job; :func:`read_documents` splits the good rows from
  the quarantine frame so the caller can count/inspect/sink rejects.
- **projection pushdown**: the explicit schema doubles as the column
  projection — Jackson skips unrequested fields at parse time, which at
  corpus scale is the difference between parsing 10 fields and 60.

Gzip note (scale): ``.jsonl.gz`` files are NOT splittable — one file =
one task.  Shard dumps into many ~100 MB-1 GB gzip members (the layout
every public corpus uses) and parallelism = file count; re-shard once
into the lake (``sources/lake.py``) before heavy iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"

#: canonical document schema for this engine's `documents` table shape
DOCUMENTS_SCHEMA = (
    "doc_id LONG, source STRING, lang STRING, text STRING, "
    "url STRING, ts STRING"
)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    multiline: bool = False,
) -> DataFrame:
    """Distributed JSONL read with enforced ``schema`` and corrupt-line
    quarantine.  Returns every line: well-formed rows carry data and a
    NULL ``_corrupt_record``; torn lines carry the raw text there and
    NULLs elsewhere."""
    return (
        spark.read.schema(f"{schema}, {CORRUPT_COL} STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("multiLine", "true" if multiline else "false")
        .json(path)
    )


def read_documents(
    spark: SparkSession,
    path: str,
    schema: str = DOCUMENTS_SCHEMA,
) -> tuple[DataFrame, DataFrame]:
    """Corpus ingestion entry: (clean rows, quarantine rows).

    Clean rows have the corrupt column dropped; quarantine rows are
    (raw_line,) for reject counting / inspection / a dead-letter sink.

    The parsed frame is persisted with ``operators/_cache.cached`` —
    Spark refuses a query whose pruned read schema is ONLY the corrupt
    column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN; the
    documented workaround is caching the parsed frame), and the cache
    also makes clean + quarantine one parse instead of two.  Call it
    and run the sink actions inside one ``_cache.scope()``, which
    releases the persist on exit, like any operator-internal block.
    """
    from occupation_wage_etl_spark.operators._cache import cached

    raw = cached(read_jsonl(spark, path, schema))
    clean = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = raw.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantine
