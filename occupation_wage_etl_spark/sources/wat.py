"""WAT metadata-sidecar source — the third leg of the web-archive
triad (WARC raw captures / WAT extracted metadata / WET extracted
text) used by Common Crawl and the IIPC tooling.

A WAT file IS a WARC file: each record is ``WARC-Type: metadata``
with an ``application/json`` block whose JSON "envelope" describes
one capture of the sibling WARC — the response's HTTP status, the
parsed ``<head>`` (title, metas) and the outgoing links, without
shipping the page bytes.  At 100 TB the WAT tier is how a crawl
pipeline builds its link graph and page catalog WITHOUT re-parsing
HTML: the scan is a fraction of the WARC's size and the JSON parse is
a codegen ``from_json``, not a Python HTML walk.

Reference parity: the reference engine has no web-archive tier — this
module is north-star LLM-pipeline scope on top of
``sources/warc.py`` (same record walk, ISO 28500) following the
public WAT envelope layout (iipc/webarchive-commons
``ExtractingResourceExtractorMapper``; Common Crawl "Web Archive
Transformation" format docs).

Plan shape: ``wat_payloads`` is scan-side ``flat_map`` (zero
shuffles, the WARC walk); ``wat_metadata`` / ``wat_outlinks`` are
pure Column projections over ``from_json`` — JVM-side, codegen,
malformed envelopes degrade to NULL fields (the same null-on-error
contract as the cleaning grammar), never a failed task.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from occupation_wage_etl_spark.operators._rows import flat_map
from occupation_wage_etl_spark.sources import warc as _warc


# The subset of the WAT envelope the catalog projects — field names
# carry the format's literal dashed keys; from_json ignores any
# sibling keys present in real envelopes (Container, Format, ...).
WAT_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "Envelope",
            T.StructType(
                [
                    T.StructField(
                        "WARC-Header-Metadata",
                        T.StructType(
                            [
                                T.StructField("WARC-Type", T.StringType()),
                                T.StructField(
                                    "WARC-Target-URI", T.StringType()
                                ),
                                T.StructField("WARC-Date", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField(
                        "Payload-Metadata",
                        T.StructType(
                            [
                                T.StructField(
                                    "HTTP-Response-Metadata",
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "Response-Message",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "Status",
                                                            T.StringType(),
                                                        )
                                                    ]
                                                ),
                                            ),
                                            T.StructField(
                                                "HTML-Metadata",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "Head",
                                                            T.StructType(
                                                                [
                                                                    T.StructField(
                                                                        "Title",
                                                                        T.StringType(),
                                                                    ),
                                                                    T.StructField(
                                                                        "Metas",
                                                                        T.ArrayType(
                                                                            T.StructType(
                                                                                [
                                                                                    T.StructField(
                                                                                        "name",
                                                                                        T.StringType(),
                                                                                    ),
                                                                                    T.StructField(
                                                                                        "content",
                                                                                        T.StringType(),
                                                                                    ),
                                                                                ]
                                                                            )
                                                                        ),
                                                                    ),
                                                                ]
                                                            ),
                                                        ),
                                                        T.StructField(
                                                            "Links",
                                                            T.ArrayType(
                                                                T.StructType(
                                                                    [
                                                                        T.StructField(
                                                                            "path",
                                                                            T.StringType(),
                                                                        ),
                                                                        T.StructField(
                                                                            "url",
                                                                            T.StringType(),
                                                                        ),
                                                                        T.StructField(
                                                                            "text",
                                                                            T.StringType(),
                                                                        ),
                                                                    ]
                                                                )
                                                            ),
                                                        ),
                                                    ]
                                                ),
                                            ),
                                        ]
                                    ),
                                ),
                            ]
                        ),
                    ),
                ]
            ),
        )
    ]
)


def wat_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "content",
    max_records: int = 4096,
) -> DataFrame:
    """One row per WAT metadata record: (id, rec_idx, target_uri,
    warc_date, envelope) with ``envelope`` the raw JSON text.  The
    WARC walk is the scan-side ``flat_map`` from
    :mod:`sources.warc` (plain and member-per-record gzip archives);
    non-metadata / non-JSON records (a WAT's own warcinfo header) are
    skipped here so the JSON tier only ever sees envelopes."""
    schema = (
        f"{id_col} long, rec_idx int, target_uri string, "
        "warc_date string, envelope string"
    )


    def _extract(rid, blob):
        recs = _warc.parse_warc(blob, max_records=max_records)
        for idx, rec in enumerate(recs):
            if rec["warc_type"] != "metadata":
                continue
            ctype = (rec["content_type"] or "").lower()
            if not ctype.startswith("application/json"):
                continue
            yield (
                rid,
                idx,
                rec["target_uri"],
                rec["warc_date"],
                rec["payload"].decode("utf-8", "replace"),
            )

    return flat_map(df, [id_col, bin_col], schema, _extract)


def wat_metadata(payloads: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Typed page catalog out of WAT envelopes — pure ``from_json``
    projection (codegen, zero Python, zero shuffles): (id, rec_idx,
    target_uri, http_status, title, meta_description, n_links, links).
    ``meta_description`` is the first ``<meta name=description>``
    entry; a malformed envelope yields NULL fields for its row."""
    env = F.from_json(F.col("envelope"), WAT_ENVELOPE_SCHEMA)
    html = env["Envelope"]["Payload-Metadata"][
        "HTTP-Response-Metadata"
    ]
    head = html["HTML-Metadata"]["Head"]
    desc = F.filter(
        head["Metas"], lambda m: m["name"] == F.lit("description")
    )
    return payloads.select(
        F.col(id_col),
        "rec_idx",
        "target_uri",
        html["Response-Message"]["Status"]
        .try_cast("int")
        .alias("http_status"),
        head["Title"].alias("title"),
        # F.get, not element_at: ANSI mode (Spark 4 default) makes
        # element_at THROW on an empty filter result; get yields NULL
        F.get(desc, 0)["content"].alias("meta_description"),
        F.coalesce(
            F.size(html["HTML-Metadata"]["Links"]), F.lit(0)
        ).alias("n_links"),
        html["HTML-Metadata"]["Links"].alias("links"),
    )


def wat_outlinks(metadata: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Edge view of the WAT catalog: one row per outgoing link —
    (id, src, link_idx, path, url, anchor_text).  ``posexplode`` keeps
    the document-order ordinal (the graph tier's stable edge id); a
    page with no links contributes no edges.  This is the 100-TB link
    graph's edge extraction WITHOUT touching page bytes: scan → parse
    → explode, still zero shuffles."""
    return metadata.select(
        F.col(id_col),
        F.col("target_uri").alias("src"),
        F.posexplode("links").alias("link_idx", "__l"),
    ).select(
        id_col,
        "src",
        "link_idx",
        F.col("__l.path").alias("path"),
        F.col("__l.url").alias("url"),
        F.col("__l.text").alias("anchor_text"),
    )


def encode_wat_fixture(
    entries: list[dict], gzip_records: bool = False
) -> bytes:
    """A deterministic WAT file for tests/oracles: each entry
    ``{uri, date?, status?, title?, metas?, links?}`` becomes one
    metadata record whose block is the JSON envelope (keys in the
    published layout; ``json.dumps`` with ``sort_keys`` for bit
    determinism).  ``gzip_records=True`` emits the Common Crawl
    member-per-record gzip contract via the WARC encoder."""
    specs = []
    for e in entries:
        head: dict = {}
        if e.get("title") is not None:
            head["Title"] = e["title"]
        if e.get("metas"):
            head["Metas"] = e["metas"]
        html_meta: dict = {"Head": head}
        if e.get("links") is not None:
            html_meta["Links"] = e["links"]
        envelope = {
            "Envelope": {
                "Format": "WARC",
                "WARC-Header-Metadata": {
                    "WARC-Type": "response",
                    "WARC-Target-URI": e["uri"],
                    "WARC-Date": e.get("date", "2024-01-01T00:00:00Z"),
                },
                "Payload-Metadata": {
                    "Actual-Content-Type": (
                        "application/http; msgtype=response"
                    ),
                    "HTTP-Response-Metadata": {
                        "Response-Message": {
                            "Status": str(e.get("status", 200)),
                            "Version": "HTTP/1.1",
                        },
                        "HTML-Metadata": html_meta,
                    },
                },
            }
        }
        specs.append(
            {
                "type": "metadata",
                "uri": e["uri"],
                "date": e.get("date", "2024-01-01T00:00:00Z"),
                "content_type": "application/json",
                "body": json.dumps(
                    envelope, sort_keys=True, separators=(",", ":")
                ),
            }
        )
    return b"".join(
        _warc._encode_record_bytes(
            specs, gzip_records=gzip_records, warcinfo=False
        )
    )
