"""CDX/CDXJ URL-index source — the lookup side of the WARC tier.

A web archive at 100 TB is unreadable without its index: the
Common Crawl / pywb contract (the cc-index "CDXJ" flavor) is a plain
text file of sorted lines

    <SURT key> <timestamp> <JSON>

where the JSON payload carries ``url, mime, status, digest, length,
offset, filename`` — ``(filename, offset, length)`` being the byte
extent of ONE WARC record, so a consumer does a ranged fetch and
parses exactly one record, never the whole archive.  This module
re-expresses that contract Spark-first:

- :func:`surt_key` — the Sort-friendly URI Reordering Transform
  (deterministic, documented subset: lowercase; scheme dropped;
  leading ``www.`` dropped; default port dropped; host labels
  REVERSED and comma-joined; ``)`` then path?query).  Pure codegen
  Column — the sort/range key is what makes host/prefix queries
  partition-prunable on a key-sorted parquet layout.
- :func:`cdx_records` — parse CDXJ lines into typed columns, all
  JVM-side (``split`` limit-3 + ``from_json``): zero Python in the
  scan path.
- :func:`cdx_prefix_lookup` — the host/prefix range query:
  ``startswith`` on the key column, a pushable ``StartsWith`` filter
  (``PushedFilters: [StringStartsWith(surt_key, …)]`` on parquet), so
  a sorted+partitioned index only reads the matching range.
- :func:`cdx_fetch` — the join-back: index rows → archive payloads by
  ``filename`` (equi-join, broadcastable when the archive catalog is
  small), then an offset-addressed SINGLE-record parse per row
  (``parse_warc`` on ``content[offset : offset+length]``) in
  scan-side ``flat_map`` — the Spark analogue of the ranged GET:
  work scales with matched index rows, never with archive bytes.
- :func:`format_cdxj_line` — the fixture-side encoder (pure Python),
  paired with ``warc.encode_warc_fixture_indexed`` which yields the
  ground-truth per-record byte extents.

Reference analogue: none (the reference reads one live HTML page);
LLM-training-data extension surface (SURVEY.md §2 extensions) — the
natural next source after the q288–q290 revisit/digest/redirect tier.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from occupation_wage_etl_spark.functions.url import (
    url_host,
    url_path,
    url_query,
)
from occupation_wage_etl_spark.operators._rows import flat_map

_CDX_JSON_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("digest", T.StringType()),
        T.StructField("length", T.LongType()),
        T.StructField("offset", T.LongType()),
        T.StructField("filename", T.StringType()),
    ]
)


def surt_key(c: Column) -> Column:
    """The SURT key of a URL column, pure codegen.  Subset rules
    (documented; the full pywb massage table is external data):
    lowercase; scheme dropped; leading ``www.`` dropped; default/any
    port dropped; host labels reversed and comma-joined; then ``)``
    and the path (with ``?query`` when present):
    ``http://www.Example.COM/A/b?x=1`` → ``com,example)/a/b?x=1``."""
    host = F.regexp_replace(url_host(c), "^www\\.", "")
    rev = F.array_join(F.reverse(F.split(host, "\\.")), ",")
    path = F.lower(url_path(c))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.lower(url_query(c))
    tail = F.when(q != "", F.concat(path, F.lit("?"), q)).otherwise(path)
    return F.concat(rev, F.lit(")"), tail)


def format_cdxj_line(
    url: str,
    timestamp: str,
    *,
    mime: str = "text/html",
    status: int = 200,
    digest: str | None = None,
    length: int = 0,
    offset: int = 0,
    filename: str = "",
    surt: str | None = None,
) -> str:
    """One CDXJ line (fixture-side pure-Python encoder).  ``surt``
    defaults to the documented subset transform of ``url`` computed in
    Python with the same rules as :func:`surt_key`."""
    if surt is None:
        surt = surt_key_py(url)
    payload = {
        "url": url,
        "mime": mime,
        "status": status,
        "digest": digest,
        "length": length,
        "offset": offset,
        "filename": filename,
    }
    return f"{surt} {timestamp} {json.dumps(payload, sort_keys=True)}"


def cdx_records(
    df: DataFrame, line_col: str = "line"
) -> DataFrame:
    """Typed index rows from CDXJ text lines — all JVM-side: the line
    splits into (key, timestamp, json) with a limit-3 split, the JSON
    block parses with ``from_json``.  Malformed JSON yields NULL
    fields, never a failed task (the same null-on-error contract as
    the cleaning grammar's casts)."""
    parts = F.split(F.col(line_col), " ", 3)
    j = F.from_json(parts.getItem(2), _CDX_JSON_SCHEMA)
    out = df.select(
        parts.getItem(0).alias("surt_key"),
        parts.getItem(1).alias("cdx_timestamp"),
        j.alias("_j"),
    )
    return out.select(
        "surt_key",
        "cdx_timestamp",
        F.col("_j.url").alias("url"),
        F.col("_j.mime").alias("mime"),
        F.col("_j.status").alias("status"),
        F.col("_j.digest").alias("digest"),
        F.col("_j.length").alias("length"),
        F.col("_j.offset").alias("offset"),
        F.col("_j.filename").alias("filename"),
    )


def cdx_prefix_lookup(cdx: DataFrame, prefix: str) -> DataFrame:
    """Index rows whose SURT key starts with ``prefix`` — the
    host / host-path range query (``com,example)`` matches every page
    of example.com and its subdomains sort adjacent to it).  A plain
    ``StartsWith`` predicate: pushable to the parquet scan, and on a
    key-sorted layout equivalent to one contiguous range read."""
    return cdx.where(F.col("surt_key").startswith(prefix))


def surt_key_py(url: str) -> str:
    """The SURT key of one URL, pure Python — the same documented
    subset rules as :func:`surt_key` (shared by the fixture encoder
    and the index builder)."""
    u = url.lower()
    rest = u.split("://", 1)[1] if "://" in u else u
    hostport, slash, tail = rest.partition("/")
    host = hostport.split("@")[-1].split(":")[0]
    if host.startswith("www."):
        host = host[4:]
    return (
        ",".join(reversed(host.split(".")))
        + ")"
        + (slash + tail if slash else "/")
    )


def _record_extents(data: bytes, max_records: int):
    """(offset, length) stored-byte extents of each record of a WARC
    archive — gzip member boundaries for the member-per-record layout
    (tracked in COMPRESSED space, the addresses a ranged GET needs),
    or framing-walk extents (version line → headers → Content-Length
    block) for plain archives."""
    import zlib

    extents: list[tuple[int, int]] = []
    if data[:2] == b"\x1f\x8b":
        pos, n = 0, len(data)
        while pos < n and len(extents) < max_records:
            d = zlib.decompressobj(31)
            fed = 0
            start = pos
            while pos < n and not d.eof:
                chunk = data[pos : pos + 65536]
                pos += len(chunk)
                fed += len(chunk)
                try:
                    d.decompress(chunk)
                except zlib.error as exc:
                    raise ValueError(
                        f"corrupt WARC: bad gzip member ({exc})"
                    )
            if not d.eof:
                raise ValueError("corrupt WARC: truncated gzip member")
            comp_len = fed - len(d.unused_data)
            extents.append((start, comp_len))
            pos = start + comp_len
        return extents
    pos, n = 0, len(data)
    while pos < n and len(extents) < max_records:
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        start = pos
        hdr_end = data.find(b"\r\n\r\n", pos)
        sep = 4
        alt = data.find(b"\n\n", pos)
        if hdr_end < 0 or (0 <= alt < hdr_end):
            hdr_end, sep = alt, 2
        if hdr_end < 0:
            raise ValueError("corrupt WARC: unterminated header block")
        header = data[pos : hdr_end + sep].decode("latin-1", "replace")
        m = None
        for ln in header.split("\n"):
            k, _, v = ln.partition(":")
            if k.strip().lower() == "content-length":
                m = v.split()[0] if v.split() else None
        if m is None:
            raise ValueError("corrupt WARC: missing Content-Length")
        end = hdr_end + sep + int(m)
        # trailing record CRLFCRLF belongs to the record's extent
        tail = end
        while tail < n and data[tail : tail + 1] in (b"\r", b"\n"):
            tail += 1
        extents.append((start, tail - start))
        pos = tail
    return extents


def cdx_build(
    archives: DataFrame,
    bin_col: str = "content",
    filename_col: str = "filename",
    max_records: int = 4096,
) -> DataFrame:
    """BUILD the CDX index from archives — the writer side of the
    cc-index contract (:func:`cdx_records` parses one; this emits
    one).  Per archive: record byte extents in STORED space (gzip
    member boundaries for the Common Crawl member-per-record layout —
    the addresses a ranged GET actually seeks to), each record parsed
    at its extent, one typed index row per ``response`` record:
    (surt_key, cdx_timestamp [14-digit, from WARC-Date], url, mime
    [Content-Type first token], status, digest, length, offset,
    filename).  Output schema matches :func:`cdx_records`, so a built
    index drives :func:`cdx_prefix_lookup` / :func:`cdx_fetch`
    unchanged.  Scan-side ``flat_map``, zero shuffles; sort by
    (surt_key, cdx_timestamp) downstream when writing a range-readable
    layout."""
    from occupation_wage_etl_spark.sources.warc import parse_warc

    schema = (
        "surt_key string, cdx_timestamp string, url string, "
        "mime string, status int, digest string, length long, "
        "offset long, filename string"
    )

    def _build(fname, payload):
        data = payload or b""
        for off, ln in _record_extents(data, max_records):
            recs = parse_warc(data[off : off + ln], max_records=1)
            if not recs or recs[0]["warc_type"] != "response":
                continue
            rec = recs[0]
            uri = rec["target_uri"] or ""
            ts = "".join(
                c for c in (rec["warc_date"] or "") if c.isdigit()
            )[:14]
            mime = (rec["http_content_type"] or "").split(";")[0].strip()
            yield (
                surt_key_py(uri) if uri else None,
                ts or None,
                uri or None,
                mime or None,
                rec["http_status"],
                rec["payload_digest"],
                ln,
                off,
                fname,
            )

    return flat_map(archives, [filename_col, bin_col], schema, _build)


def cdx_change_rate(cdx: DataFrame) -> DataFrame:
    """Per-URL change history from the capture index — the adaptive-
    recrawl signal (how often a page ACTUALLY changes, measured by
    digest transitions between consecutive captures): (surt_key, url,
    n_captures, n_changes, span_s, mean_interval_s,
    est_change_interval_s) where ``est_change_interval_s`` =
    span / max(changes, 1) — the naive inter-change estimate a
    scheduler clamps into its ttl policy (pairs with
    ``warc.recrawl_schedule``'s header-driven plan).

    Shape: one key-partitioned window (lag over each URL's captures —
    bounded by captures-per-URL, never global) + one hash-agg on
    surt_key.  Timestamps are the index's 14-digit form; captures
    whose timestamp does not parse are EXCLUDED entirely (counting
    them while max/min skip their NULL epoch would skew every
    interval), and same-second captures order by digest so
    n_changes is deterministic (and matches the streaming twin's
    stable sort)."""
    ts = F.try_to_timestamp(
        F.col("cdx_timestamp"), F.lit("yyyyMMddHHmmss")
    ).cast("long")
    w = Window.partitionBy("surt_key").orderBy(
        "cdx_timestamp", "digest"
    )
    seq = cdx.select(
        "surt_key", "url", "cdx_timestamp", "digest", ts.alias("__ts")
    ).filter(
        F.col("__ts").isNotNull()
    ).withColumn("__prev_digest", F.lag("digest").over(w))
    changed = F.when(
        F.col("__prev_digest").isNotNull()
        & (F.col("digest") != F.col("__prev_digest")),
        1,
    ).otherwise(0)
    agg = seq.groupBy("surt_key").agg(
        F.min("url").alias("url"),
        F.count(F.lit(1)).alias("n_captures"),
        F.sum(changed).alias("n_changes"),
        (F.max("__ts") - F.min("__ts")).alias("span_s"),
    )
    intervals = F.greatest(F.col("n_captures") - 1, F.lit(1))
    return agg.select(
        "surt_key",
        "url",
        "n_captures",
        F.col("n_changes").cast("long").alias("n_changes"),
        "span_s",
        (F.col("span_s") / intervals).cast("long").alias(
            "mean_interval_s"
        ),
        (
            F.col("span_s") / F.greatest(F.col("n_changes"), F.lit(1))
        ).cast("long").alias("est_change_interval_s"),
    )


def cdx_fetch(
    cdx: DataFrame,
    archives: DataFrame,
    bin_col: str = "content",
    filename_col: str = "filename",
    broadcast_archives: bool = False,
) -> DataFrame:
    """The ranged-GET analogue, shuffle-shaped for scale: the matched
    index rows are first GROUPED per archive (``collect_list`` of the
    wanted extents — bounded by records-per-archive, the same cap as
    ``parse_warc``), so each archive's bytes cross the join exactly
    ONCE no matter how many records are fetched from it; the per-row
    form would duplicate multi-GiB blobs once per matched row.  Then
    each wanted ``content[offset : offset+length]`` parses as ONE WARC
    record (scan-side ``flat_map``).  Output: the index key columns
    plus the fetched record's type/URI/status/digest and payload text
    (UTF-8, replace).  Work is O(matched index rows) — never a
    full-archive scan; set ``broadcast_archives`` when the archive
    catalog is a small dimension."""
    from occupation_wage_etl_spark.sources.warc import parse_warc

    arc = archives.select(
        F.col(filename_col).alias("__arc_filename"),
        F.col(bin_col).alias("__arc_bytes"),
    )
    if broadcast_archives:
        arc = F.broadcast(arc)
    wanted = cdx.groupBy(F.col(filename_col).alias("__fname")).agg(
        F.collect_list(
            F.struct(
                "surt_key", "cdx_timestamp", "url", "status",
                "digest", "offset", "length",
            )
        ).alias("__wants")
    )
    joined = wanted.join(
        arc, wanted["__fname"] == arc["__arc_filename"], "inner"
    ).select("__fname", "__wants", "__arc_bytes")

    schema = (
        "surt_key string, cdx_timestamp string, url string, "
        "status int, digest string, offset long, length long, "
        "filename string, rec_type string, rec_uri string, "
        "rec_status int, rec_digest string, payload_text string"
    )

    def _fetch(fname, wants, payload):
        data = payload or b""
        for w in wants:
            off = w["offset"] or 0
            ln = w["length"] or 0
            recs = parse_warc(data[off : off + ln], max_records=1)
            rec = recs[0] if recs else None
            yield (
                w["surt_key"], w["cdx_timestamp"], w["url"], w["status"],
                w["digest"], off, ln, fname,
                rec["warc_type"] if rec else None,
                rec["target_uri"] if rec else None,
                rec["http_status"] if rec else None,
                rec["payload_digest"] if rec else None,
                rec["payload"].decode("utf-8", "replace") if rec else None,
            )

    return flat_map(
        joined, ["__fname", "__wants", "__arc_bytes"], schema, _fetch
    )
