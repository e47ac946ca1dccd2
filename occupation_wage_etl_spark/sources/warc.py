"""WARC / WET web-archive source — the canonical input container of
web-scale text corpora (ISO 28500 / WARC 1.1; the WET "conversion"
flavor is the text-extract sidecar Common Crawl publishes next to every
crawl segment).

Layout contract (the Common Crawl convention): an archive is a
concatenation of records; when gzip-compressed, EACH record is its own
gzip member, so a 1 GiB .warc.gz splits at member boundaries without
parsing — here the whole archive arrives as one binary cell and is
walked record-by-record inside a scan-side ``flat_map`` (zero
shuffles; the 100 TB layout is many archive files scanned in parallel,
one task per file split, exactly like the PDF/DOCX/MP4 tiers).

Record grammar (ISO 28500 §4): a version line ``WARC/1.0``, named
header fields (``Name: value``, RFC 5322 continuation-line folding),
a blank line, ``Content-Length`` octets of block, then CRLF CRLF.
``response`` records carry a full HTTP message in the block
(status line + headers + payload); ``conversion`` (WET) records carry
the extracted plain text directly.

Reference parity note: the reference pipeline (pipeline/load_data.py)
has no web-archive tier at all; this module is part of the engine's
LLM-training-data extension surface (SURVEY.md §2 extensions) and
derives only from the public ISO 28500 spec and the Common Crawl file
conventions.  Everything downstream — curation funnel, dedup, lang-ID
— consumes the extracted text like any other document column (q260 /
q261 / the q262 WET→curation bridge).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame

from occupation_wage_etl_spark.operators._rows import flat_map

_CRLF = b"\r\n"


# --------------------------------------------------------------- gunzip

_GUNZIP_CHUNK = 1 << 20


def _gunzip_iter(data: bytes) -> Iterator[bytes]:
    """Decompressed chunks of a concatenation of gzip members (the
    member-per-record WARC layout, or a single whole-archive member).

    Feeds the decompressor ``_GUNZIP_CHUNK`` slices of a memoryview so
    the per-member ``unused_data`` copy is bounded by the chunk size —
    O(archive) total, not O(members × archive) — and, because it is a
    generator, the record walk can stop pulling once ``max_records``
    records' worth of bytes have materialized."""
    view = memoryview(data)
    pos, n = 0, len(view)
    d = zlib.decompressobj(31)  # gzip wrapper
    fed = False  # has the CURRENT member seen any input yet?
    carry = b""  # unused_data of a finished member, ≤ one chunk
    while pos < n or carry:
        if carry:
            feed, carry = carry, b""
        else:
            feed = view[pos : pos + _GUNZIP_CHUNK]
            pos += len(feed)
        while feed:
            try:
                out = d.decompress(feed)
            except zlib.error as exc:
                raise ValueError(
                    f"corrupt WARC: bad gzip member ({exc})"
                )
            fed = True
            if out:
                yield out
            if not d.eof:
                break
            # member boundary — restart on the leftover bytes
            feed = d.unused_data
            d = zlib.decompressobj(31)
            fed = False
    if fed and not d.eof:
        raise ValueError("corrupt WARC: truncated gzip member")


def _gunzip_members(data: bytes) -> bytes:
    """Whole-buffer convenience wrapper over `_gunzip_iter`."""
    return b"".join(_gunzip_iter(data))


# ---------------------------------------------------------------- parse


def _read_line(data: bytes, pos: int) -> tuple[bytes, int]:
    e = data.find(b"\n", pos)
    if e < 0:
        return data[pos:], len(data)
    line = data[pos:e]
    if line.endswith(b"\r"):
        line = line[:-1]
    return line, e + 1


def _parse_headers(data: bytes, pos: int) -> tuple[dict[str, str], int]:
    """Named fields up to the blank line; continuation lines (leading
    SP/HT) fold into the previous value (ISO 28500 §4 / RFC 5322).
    Repeated field names accumulate comma-joined — the RFC 9110 §5.3
    list equivalence, so legitimately-repeatable fields (e.g.
    ``WARC-Concurrent-To``) are never silently dropped; singleton
    fields read downstream take the first list element."""
    headers: dict[str, str] = {}
    last: str | None = None
    while pos < len(data):
        line, pos = _read_line(data, pos)
        if not line:
            break
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode("latin-1")
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            raise ValueError("corrupt WARC: malformed header line")
        key = name.strip().decode("latin-1").lower()
        val = value.strip().decode("latin-1")
        headers[key] = headers[key] + ", " + val if key in headers else val
        last = key
    return headers, pos


def _first_token(value: str) -> str:
    """First element of a comma-joined header value (singleton reads)."""
    return value.split(",", 1)[0].strip()


def _dechunk(body: bytes) -> bytes:
    """RFC 9112 §7.1 chunked transfer decoding: size-line (hex, optional
    extensions) + chunk + CRLF, terminated by a zero chunk; trailer
    fields ignored.  Malformed framing returns the body as-is (crawl
    archives carry plenty of almost-HTTP — never fail the record)."""
    out = bytearray()
    pos = 0
    while pos < len(body):
        line, nxt = _read_line(body, pos)
        size_tok = line.split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            return bytes(body)
        if size == 0:
            break
        if nxt + size > len(body):
            return bytes(body)
        out += body[nxt : nxt + size]
        pos = nxt + size
        # consume the CRLF after the chunk data
        if body[pos : pos + 2] == b"\r\n":
            pos += 2
        elif body[pos : pos + 1] == b"\n":
            pos += 1
    return bytes(out)


def _decode_content(payload: bytes, encoding: str | None) -> bytes:
    """RFC 9110 §8.4 ``Content-Encoding`` decode: ``gzip``/``x-gzip``
    (RFC 1952, multi-member tolerated), ``deflate`` (RFC 1950 zlib
    wrapper, falling back to raw RFC 1951 — the historical server
    quirk), ``identity`` (no-op).  Multiple codings are listed in
    application order, so they undo in reverse.  Unknown codings
    (br/zstd — not stdlib) or corrupt streams return the payload
    unchanged: crawl archives carry plenty of mislabeled content and a
    single bad page must never fail the record (the `_dechunk` rule)."""
    toks = [t.strip().lower() for t in (encoding or "").split(",")]
    for tok in reversed([t for t in toks if t]):
        if tok == "identity":
            continue
        if tok in ("gzip", "x-gzip"):
            try:
                payload = _gunzip_members(payload)
            except ValueError:
                return payload
        elif tok == "deflate":
            try:
                payload = zlib.decompress(payload)
            except zlib.error:
                try:
                    payload = zlib.decompress(payload, -zlib.MAX_WBITS)
                except zlib.error:
                    return payload
        else:
            return payload
    return payload


def _parse_http_block(
    block: bytes,
) -> tuple[int | None, str | None, bytes, str | None, dict[str, str]]:
    """(status, content-type, payload, location, cache_headers) out of
    an HTTP message
    block; chunked transfer-encoding is decoded first (the wire framing
    is outermost), then Content-Encoding (gzip/deflate) — so the
    payload that reaches the bytes→text tiers is the representation the
    server produced, not compressed garbage.  ``location`` is the raw
    Location header (redirect target, RFC 9110 §10.2.2 — routinely a
    RELATIVE reference; resolve downstream); ``cache_headers`` carries
    the raw revalidation/freshness fields (etag, last-modified,
    cache-control, expires) for the recrawl-scheduling tier."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        sep = block.find(b"\n\n")
        body_at = sep + 2 if sep >= 0 else len(block)
    else:
        body_at = sep + 4
    head = block[: sep if sep >= 0 else len(block)]
    status: int | None = None
    ctype: str | None = None
    line, pos = _read_line(head, 0)
    parts = line.split()
    if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    hdrs, _ = _parse_headers(head + b"\n", pos)
    ctype = hdrs.get("content-type")
    if ctype is not None:
        ctype = _first_token(ctype) or None
    location = hdrs.get("location")
    if location is not None:
        location = _first_token(location) or None
    payload = block[body_at:]
    if "chunked" in hdrs.get("transfer-encoding", "").lower():
        payload = _dechunk(payload)
    payload = _decode_content(payload, hdrs.get("content-encoding"))
    cache = {
        k: hdrs[k]
        for k in ("etag", "last-modified", "cache-control", "expires")
        if k in hdrs
    }
    return status, ctype, payload, location, cache


def parse_warc(data: bytes, max_records: int = 4096) -> list[dict]:
    """All records of a WARC/WET archive (plain or gzip-member
    compressed), each a dict of the catalog fields plus the raw block
    and — for ``response`` records — the parsed HTTP payload.
    Fan-out is bounded by ``max_records`` (the 100 TB cap, same rule
    as pdf_text's max_pages); on compressed archives decompression is
    lazy, so hitting the cap stops pulling gzip members — a capped
    catalog scan over a multi-GiB archive never inflates the tail."""
    if data[:2] == b"\x1f\x8b":
        chunks = _gunzip_iter(data)
        buf = bytearray()

        def _fill() -> bool:
            try:
                buf.extend(next(chunks))
                return True
            except StopIteration:
                return False

    else:
        buf = data

        def _fill() -> bool:
            return False

    def _ensure(n: int) -> bool:
        while len(buf) < n:
            if not _fill():
                return False
        return True

    records: list[dict] = []
    pos = 0
    while len(records) < max_records:
        # skip inter-record CRLFs (pulling more input at a boundary)
        while True:
            while pos < len(buf) and buf[pos : pos + 1] in (b"\r", b"\n"):
                pos += 1
            if pos < len(buf) or not _fill():
                break
        if pos >= len(buf):
            break
        # materialize the whole header block (up to the blank line)
        while True:
            hdr_end = buf.find(b"\n\r\n", pos)
            if hdr_end < 0:
                hdr_end = buf.find(b"\n\n", pos)
            if hdr_end >= 0 or not _fill():
                break
        line, hpos = _read_line(buf, pos)
        if not line.startswith(b"WARC/"):
            raise ValueError("corrupt WARC: missing version line")
        headers, pos = _parse_headers(buf, hpos)
        try:
            length = int(_first_token(headers["content-length"]))
        except (KeyError, ValueError):
            raise ValueError("corrupt WARC: missing/bad Content-Length")
        if not _ensure(pos + length):
            raise ValueError("corrupt WARC: truncated record block")
        block = bytes(buf[pos : pos + length])
        pos += length
        rec = {
            "warc_type": headers.get("warc-type"),
            "record_id": headers.get("warc-record-id"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "content_length": length,
            "payload_digest": headers.get("warc-payload-digest"),
            "refers_to": headers.get("warc-refers-to"),
            "block": block,
            "http_status": None,
            "http_content_type": None,
            "http_location": None,
            "payload": block,
        }
        ctype = (rec["content_type"] or "").lower()
        if ctype.startswith("application/http"):
            status, hct, payload, loc, cache = _parse_http_block(block)
            rec["http_status"] = status
            rec["http_content_type"] = hct
            rec["http_location"] = loc
            rec["payload"] = payload
            rec["http_etag"] = cache.get("etag")
            rec["http_last_modified"] = cache.get("last-modified")
            rec["http_cache_control"] = cache.get("cache-control")
            rec["http_expires"] = cache.get("expires")
        records.append(rec)
    return records


def payload_digest_sha1(payload: bytes) -> str:
    """The WARC payload-digest labelled form over the DECODED payload:
    ``sha1:`` + RFC 4648 base32 of the SHA-1 — the Common Crawl
    convention (``WARC-Payload-Digest: sha1:BASE32…``; 20 digest bytes
    → exactly 32 base32 chars, no padding).  This module's documented
    digest contract is the payload as :func:`parse_warc` returns it —
    transfer- and content-decoding already undone."""
    import base64
    import hashlib

    h = hashlib.sha1(payload).digest()
    return "sha1:" + base64.b32encode(h).decode("ascii")


def extract_wet_text(data: bytes, max_records: int = 4096) -> list[dict]:
    """The WET view: one (uri, date, text) entry per ``conversion``
    record, text decoded as UTF-8 (the WET contract; undecodable bytes
    replaced, never raising on a single bad page)."""
    out = []
    for rec in parse_warc(data, max_records=max_records):
        if rec["warc_type"] != "conversion":
            continue
        out.append(
            {
                "target_uri": rec["target_uri"],
                "warc_date": rec["warc_date"],
                "text": rec["block"].decode("utf-8", "replace"),
            }
        )
    return out


# ------------------------------------------------------------ operators


def warc_records(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    max_records: int = 4096,
) -> DataFrame:
    """One row per record of each archive payload: the catalog fields
    (incl. payload digest / refers-to, the revisit-dedup keys) plus
    HTTP status/content-type/Location and payload size for response
    records.  Scan-side ``flat_map``, zero shuffles."""
    schema = (
        f"{id_col} long, rec_idx int, warc_type string, "
        "target_uri string, warc_date string, content_type string, "
        "content_length long, payload_digest string, "
        "refers_to string, http_status int, "
        "http_content_type string, http_location string, "
        "http_etag string, http_last_modified string, "
        "http_cache_control string, http_expires string, "
        "payload_len long"
    )

    def _extract(rid, payload):
        for k, rec in enumerate(
            parse_warc(payload or b"", max_records=max_records)
        ):
            yield (
                rid, k, rec["warc_type"], rec["target_uri"],
                rec["warc_date"], rec["content_type"],
                rec["content_length"], rec["payload_digest"],
                rec["refers_to"], rec["http_status"],
                rec["http_content_type"], rec["http_location"],
                rec.get("http_etag"), rec.get("http_last_modified"),
                rec.get("http_cache_control"), rec.get("http_expires"),
                len(rec["payload"]),
            )

    return flat_map(df, [id_col, bin_col], schema, _extract)


def warc_payloads(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    max_records: int = 4096,
    warc_types: tuple[str, ...] = ("response",),
) -> DataFrame:
    """(id, rec_idx, target_uri, http_status, http_content_type,
    payload) — the raw payload bytes of each matching record, for the
    downstream bytes→text tiers (charset sniff, HTML extraction).
    ``rec_idx`` is the per-archive ordinal among matching records."""
    schema = (
        f"{id_col} long, rec_idx int, target_uri string, "
        "http_status int, http_content_type string, payload binary"
    )

    def _extract(rid, payload):
        recs = parse_warc(payload or b"", max_records=max_records)
        matching = (r for r in recs if r["warc_type"] in warc_types)
        for k, rec in enumerate(matching):
            yield (
                rid, k, rec["target_uri"], rec["http_status"],
                rec["http_content_type"], rec["payload"],
            )

    return flat_map(df, [id_col, bin_col], schema, _extract)


def wet_text(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    max_records: int = 4096,
) -> DataFrame:
    """(id, rec_idx [per-archive conversion-record ordinal], uri,
    n_chars, text) — the WET text table, ready for the curation funnel
    (quality → lang-ID → dedup) exactly like the documents table."""
    schema = (
        f"{id_col} long, rec_idx int, target_uri string, "
        "n_chars int, text string"
    )

    def _extract(rid, payload):
        recs = extract_wet_text(payload or b"", max_records=max_records)
        return [
            (rid, k, rec["target_uri"], len(rec["text"]), rec["text"])
            for k, rec in enumerate(recs)
        ]

    return flat_map(df, [id_col, bin_col], schema, _extract)


# ------------------------------------------------------ fixture writer


def _gzip_member(raw: bytes) -> bytes:
    """One deterministic gzip member (mtime 0, no filename)."""
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    # compressobj(wbits=31) writes a fixed header with mtime 0 — unlike
    # gzip.compress, which stamps wall-clock time
    return co.compress(raw) + co.flush()


def encode_warc_fixture(
    records: list[dict],
    gzip_records: bool = False,
    warcinfo: bool = True,
) -> bytes:
    """A VALID minimal WARC/WET archive.  Each entry of ``records``:

    - ``{"type": "conversion", "uri": ..., "date": ..., "text": str}``
      (a WET record), or
    - ``{"type": "response", "uri": ..., "date": ..., "status": int,
      "http_content_type": str, "payload": bytes}`` (a crawl record
      wrapping a full HTTP/1.1 message), or
    - ``{"type": <other>, "body": bytes}`` for anything else.

    Response specs may add ``location`` (a Location header — redirect
    fixtures), ``payload_digest`` (True → the real
    :func:`payload_digest_sha1` of the pre-encoding payload, or an
    explicit string → planted as-is, e.g. a deliberately wrong
    digest), ``content_encoding`` and ``chunked`` (wire encodings).
    Any spec may add ``warc_headers`` (extra WARC header fields —
    revisit records' ``WARC-Refers-To``/``WARC-Profile``).

    ``gzip_records`` emits the Common Crawl member-per-record layout;
    ``warcinfo`` prepends the customary archive-metadata record."""
    return b"".join(_encode_record_bytes(records, gzip_records, warcinfo))


def encode_warc_fixture_indexed(
    records: list[dict],
    gzip_records: bool = False,
    warcinfo: bool = True,
) -> tuple[bytes, list[tuple[int, int]]]:
    """:func:`encode_warc_fixture` plus the per-record ``(offset,
    length)`` byte extents — the ground truth a CDX index fixture
    needs (``sources/cdx.py``); extents cover the warcinfo record too
    when present, in record order."""
    chunks = _encode_record_bytes(records, gzip_records, warcinfo)
    extents: list[tuple[int, int]] = []
    pos = 0
    for c in chunks:
        extents.append((pos, len(c)))
        pos += len(c)
    return b"".join(chunks), extents


def _encode_record_bytes(
    records: list[dict], gzip_records: bool, warcinfo: bool
) -> list[bytes]:
    out: list[bytes] = []
    items = list(records)
    if warcinfo:
        items.insert(
            0,
            {
                "type": "warcinfo",
                "content_type": "application/warc-fields",
                "body": b"software: occupation-wage-etl-spark\r\n",
            },
        )
    for idx, spec in enumerate(items):
        rtype = spec["type"]
        digest = spec.get("payload_digest")
        if rtype == "response":
            payload = spec["payload"]
            if isinstance(payload, str):
                payload = payload.encode("utf-8")
            if digest is True:
                digest = payload_digest_sha1(payload)
            enc_hdr = b""
            enc = spec.get("content_encoding")
            if enc in ("gzip", "x-gzip"):
                payload = _gzip_member(payload)
            elif enc == "deflate":
                payload = zlib.compress(payload)
            elif enc == "deflate-raw":  # the historical raw-DEFLATE quirk
                co = zlib.compressobj(6, zlib.DEFLATED, -zlib.MAX_WBITS)
                payload = co.compress(payload) + co.flush()
                enc = "deflate"
            if enc:
                enc_hdr = f"Content-Encoding: {enc}\r\n".encode("latin-1")
            if spec.get("chunked"):
                # RFC 9112 chunked framing: split at 7 bytes to force
                # multiple chunks through the decoder
                chunks = [
                    payload[o : o + 7] for o in range(0, len(payload), 7)
                ] or [b""]
                body = b"".join(
                    b"%x\r\n" % len(c) + c + b"\r\n"
                    for c in chunks
                    if c
                ) + b"0\r\n\r\n"
                framing = b"Transfer-Encoding: chunked\r\n"
            else:
                body = payload
                framing = b"Content-Length: %d\r\n" % len(payload)
            extra_http = b"".join(
                f"{k}: {v}\r\n".encode("latin-1")
                for k, v in (spec.get("http_headers") or {}).items()
            )
            http = (
                (
                    f"HTTP/1.1 {spec.get('status', 200)} OK\r\n"
                    f"Content-Type: "
                    f"{spec.get('http_content_type', 'text/html')}\r\n"
                ).encode("latin-1")
                + (
                    f"Location: {spec['location']}\r\n".encode("latin-1")
                    if spec.get("location")
                    else b""
                )
                + extra_http
                + enc_hdr
                + framing
                + b"\r\n"
                + body
            )
            block = http
            ctype = "application/http; msgtype=response"
        elif rtype == "conversion":
            block = spec["text"].encode("utf-8")
            ctype = "text/plain"
        else:
            block = spec.get("body", b"")
            if isinstance(block, str):
                block = block.encode("utf-8")
            ctype = spec.get("content_type", "application/octet-stream")
        head = [f"WARC/1.0"]
        head.append(f"WARC-Type: {rtype}")
        head.append(
            f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-"
            f"{idx:012d}>"
        )
        head.append(
            f"WARC-Date: {spec.get('date', '2024-01-01T00:00:00Z')}"
        )
        if spec.get("uri"):
            head.append(f"WARC-Target-URI: {spec['uri']}")
        if digest is True:  # non-response records: digest of the block
            digest = payload_digest_sha1(block)
        if digest:
            head.append(f"WARC-Payload-Digest: {digest}")
        for k, v in (spec.get("warc_headers") or {}).items():
            head.append(f"{k}: {v}")
        head.append(f"Content-Type: {ctype}")
        head.append(f"Content-Length: {len(block)}")
        rec = (
            ("\r\n".join(head) + "\r\n\r\n").encode("latin-1")
            + block
            + b"\r\n\r\n"
        )
        out.append(_gzip_member(rec) if gzip_records else rec)
    return out


def warc_redirects(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    max_records: int = 4096,
) -> DataFrame:
    """(id, rec_idx [ordinal among redirect records], from_uri,
    http_status, location, location_abs) per 3xx response record with
    a Location header — the crawl-graph redirect edge table.  The raw
    Location is routinely a RELATIVE reference (RFC 9110 §10.2.2
    allows it), so ``location_abs`` resolves it RFC 3986-style against
    the record's own WARC-Target-URI.  Scan-side ``flat_map``, zero
    shuffles; chase chains with :func:`redirect_final_url`."""
    from occupation_wage_etl_spark.sources.html_text import resolve_url

    schema = (
        f"{id_col} long, rec_idx int, from_uri string, "
        "http_status int, location string, location_abs string"
    )

    def _extract(rid, payload):
        recs = parse_warc(payload or b"", max_records=max_records)
        redirects = (
            r for r in recs
            if r["warc_type"] == "response"
            and r["http_status"] is not None
            and 300 <= r["http_status"] < 400
            and r["http_location"] is not None
        )
        for k, rec in enumerate(redirects):
            loc = rec["http_location"]
            yield (
                rid, k, rec["target_uri"], rec["http_status"], loc,
                resolve_url(rec["target_uri"], loc),
            )

    return flat_map(df, [id_col, bin_col], schema, _extract)


def redirect_final_url(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Resolve each redirect SOURCE to its final destination by
    following (src → dst) edges up to ``max_hops`` times — the bounded
    chain chase every crawler needs before fetching (and before URL
    dedup: the canonical page is the chain's END).  Returns (src,
    final_url, n_hops, resolved) — ``resolved`` False when the chain
    is still open after ``max_hops`` (longer chain or a loop; RFC 9110
    advises a small hop cap, historically 5).

    Shape: ``max_hops`` bounded left equi-joins (a DAG, no driver-side
    iteration); each hop joins on the current frontier URL.  A src
    with several Location edges follows the lexicographically smallest
    (deterministic; real archives occasionally carry duplicate fetches
    of one URL)."""
    from pyspark.sql import functions as F

    from occupation_wage_etl_spark.operators._cache import cached

    # The folded edge list feeds every hop join plus the open-chain
    # probe (max_hops + 1 consumers).  Persist it once: without the
    # cache each consumer re-executes the whole upstream — for WARC
    # inputs that is the Arrow-batched archive parse, re-run per hop
    # (guide §2.4/§5; measured 20 Python nodes in the q289 plan).
    # Edge rows are two URL strings — tiny next to the archives.
    e = cached(
        edges.groupBy(F.col(src_col).alias("__s"))
        .agg(F.min(F.col(dst_col)).alias("__d"))
    )
    cur = e.select(
        F.col("__s").alias("src"),
        F.col("__d").alias("__cur"),
        F.lit(1).cast("int").alias("n_hops"),
    )
    for _ in range(max(max_hops, 1) - 1):
        step = e.select(
            F.col("__s").alias("__s2"), F.col("__d").alias("__d2")
        )
        cur = cur.join(
            step, cur["__cur"] == step["__s2"], "left"
        ).select(
            "src",
            F.coalesce(F.col("__d2"), F.col("__cur")).alias("__cur"),
            (
                F.col("n_hops")
                + F.when(F.col("__d2").isNotNull(), 1).otherwise(0)
            ).cast("int").alias("n_hops"),
        )
    more = e.select(
        F.col("__s").alias("__s3"), F.lit(1).alias("__open")
    )
    return (
        cur.join(more, cur["__cur"] == more["__s3"], "left")
        .select(
            "src",
            F.col("__cur").alias("final_url"),
            "n_hops",
            F.col("__open").isNull().alias("resolved"),
        )
    )


def warc_digest_check(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    max_records: int = 4096,
) -> DataFrame:
    """(id, rec_idx, target_uri, digest_algo, digest_ok) per record
    carrying a WARC-Payload-Digest — archive integrity audit: recompute
    the digest over the DECODED payload (this module's digest
    contract) and compare.  Only ``sha1`` labelled digests are
    recomputed (the Common Crawl form); other algorithms report
    digest_ok NULL.  Scan-side, zero shuffles."""
    schema = (
        f"{id_col} long, rec_idx int, target_uri string, "
        "digest_algo string, digest_ok boolean"
    )

    def _extract(rid, payload):
        recs = parse_warc(payload or b"", max_records=max_records)
        declared = (r for r in recs if r["payload_digest"] is not None)
        for k, rec in enumerate(declared):
            algo = rec["payload_digest"].split(":", 1)[0].lower()
            ok = (
                payload_digest_sha1(rec["payload"]) == rec["payload_digest"]
                if algo == "sha1"
                else None
            )
            yield (rid, k, rec["target_uri"], algo, ok)

    return flat_map(df, [id_col, bin_col], schema, _extract)


def recrawl_schedule(
    records: DataFrame,
    id_col: str = "doc_id",
    default_ttl_s: int = 86400,
    min_ttl_s: int = 300,
    max_ttl_s: int = 30 * 86400,
) -> DataFrame:
    """Conditional-refetch plan per response record — the
    crawl-scheduling half of politeness (RFC 9111 freshness):

    - ``Cache-Control: no-store``/``no-cache`` → refetch at
      ``min_ttl_s`` (but revalidation headers still apply);
    - ``max-age=N`` → ttl = N clamped to [min, max];
    - else ``Expires`` (explicit expiration, §4.2.1 — checked BEFORE
      any heuristic): ttl = Expires − capture time, clamped (already
      expired → the min floor);
    - else ``Last-Modified`` → the §4.2.2 heuristic: 10% of
      (capture time − Last-Modified), clamped;
    - nothing usable → ``default_ttl_s``.

    The Expires and Last-Modified rungs require a parseable capture
    time (WARC-Date): with it missing or malformed they fall through
    to the default rung rather than letting a NULL-skipping
    greatest/least collapse the clamp to its max bound.

    ``revalidate_with`` says how the refetch can be made conditional:
    ``etag`` (If-None-Match — preferred), ``last-modified``
    (If-Modified-Since), or ``unconditional``.  Output: (id, rec_idx,
    target_uri, etag, last_modified, cache_control, ttl_s,
    next_fetch_unix, revalidate_with).  Pure codegen projection over
    the :func:`warc_records` catalog — zero shuffles, zero Python; at
    100 TB this is a scan-side map feeding the q296 budget aggregate.
    Timestamp parses use try_to_timestamp (a malformed header degrades
    to the default rung, never failing a task)."""
    from pyspark.sql import functions as F

    cap_ts = F.try_to_timestamp(F.col("warc_date"))
    # RFC 1123 date: Spark 3+'s parser rejects EEE on the PARSE side,
    # so the (redundant) weekday token is stripped first
    lm_ts = F.try_to_timestamp(
        F.regexp_replace(
            F.col("http_last_modified"), r"^[A-Za-z]{3},\s*", ""
        ),
        F.lit("dd MMM yyyy HH:mm:ss 'GMT'"),
    )
    exp_ts = F.try_to_timestamp(
        F.regexp_replace(
            F.col("http_expires"), r"^[A-Za-z]{3},\s*", ""
        ),
        F.lit("dd MMM yyyy HH:mm:ss 'GMT'"),
    )
    cc = F.lower(F.coalesce(F.col("http_cache_control"), F.lit("")))
    max_age = F.regexp_extract(cc, r"max-age\s*=\s*(\d+)", 1).try_cast(
        "long"
    )
    explicit_ttl = exp_ts.cast("long") - cap_ts.cast("long")
    heuristic = (
        (cap_ts.cast("long") - lm_ts.cast("long")) / F.lit(10)
    ).cast("long")
    clamp = lambda c: F.greatest(  # noqa: E731
        F.lit(min_ttl_s), F.least(F.lit(max_ttl_s), c)
    )
    ttl = (
        F.when(
            cc.rlike("no-store|no-cache"), F.lit(min_ttl_s).cast("long")
        )
        .when(max_age.isNotNull(), clamp(max_age))
        .when(
            exp_ts.isNotNull() & cap_ts.isNotNull(),
            clamp(explicit_ttl),
        )
        .when(
            lm_ts.isNotNull() & cap_ts.isNotNull(), clamp(heuristic)
        )
        .otherwise(F.lit(default_ttl_s).cast("long"))
    )
    reval = (
        F.when(F.col("http_etag").isNotNull(), F.lit("etag"))
        .when(
            F.col("http_last_modified").isNotNull(),
            F.lit("last-modified"),
        )
        .otherwise(F.lit("unconditional"))
    )
    return records.filter(F.col("warc_type") == "response").select(
        F.col(id_col),
        "rec_idx",
        "target_uri",
        F.col("http_etag").alias("etag"),
        F.col("http_last_modified").alias("last_modified"),
        F.col("http_cache_control").alias("cache_control"),
        ttl.alias("ttl_s"),
        (cap_ts.cast("long") + ttl).alias("next_fetch_unix"),
        reval.alias("revalidate_with"),
    )


def adaptive_recrawl(
    schedule: DataFrame,
    change_rate: DataFrame,
    min_ttl_s: int = 300,
    max_ttl_s: int = 30 * 86400,
) -> DataFrame:
    """Adaptive recrawl plan: :func:`recrawl_schedule`'s header-driven
    ttl refined by :func:`sources.cdx.cdx_change_rate`'s MEASURED
    per-URL change interval — the scheduler loop every adaptive
    crawler closes (Heritrix adaptive-revisit, Common Crawl's
    recrawl-selection).

    Policy (RFC 9111-consistent):

    - no capture history (or a single capture) → the header plan
      stands (``schedule_source = 'headers'``);
    - EXPLICIT freshness (``max-age`` / ``no-cache`` / ``no-store``)
      is an authoritative ceiling: measurement may only TIGHTEN —
      ``ttl = clamp(least(header_ttl, measured))``;
    - header ttl was a GUESS (the §4.2.2 heuristic or the default
      rung): measurement replaces it in BOTH directions —
      ``ttl = clamp(measured)`` (a stable page earns a longer
      interval; that's the crawl-economics win at 100 TB).

    Explicitness is read from ``cache_control`` (the schedule row's
    only freshness-source marker): an Expires-derived ttl without
    Cache-Control currently adapts like a heuristic one — surface a
    source column in ``recrawl_schedule`` before tightening that.

    Join shape: schedule is per-record scan-side; change_rate is one
    row per URL (already aggregated) — an equi-join on the URL key,
    both sides shuffle-partitioned by url (no broadcast assumption:
    at 100 TB the history side is |URLs|-sized).  Everything after
    the join is codegen."""
    from pyspark.sql import functions as F

    hist = change_rate.select(
        F.col("url").alias("__url"),
        F.col("n_captures").alias("hist_captures"),
        "est_change_interval_s",
    )
    joined = schedule.join(
        hist, schedule["target_uri"] == hist["__url"], "left"
    )
    measured = F.when(
        F.col("hist_captures") >= 2, F.col("est_change_interval_s")
    )
    explicit = F.lower(F.coalesce(F.col("cache_control"), F.lit(""))).rlike(
        r"no-store|no-cache|max-age\s*=\s*\d"
    )
    clamp = lambda c: F.greatest(  # noqa: E731
        F.lit(min_ttl_s).cast("long"),
        F.least(F.lit(max_ttl_s).cast("long"), c),
    )
    effective = (
        F.when(measured.isNull(), F.col("ttl_s"))
        .when(explicit, clamp(F.least(F.col("ttl_s"), measured)))
        .otherwise(clamp(measured))
    )
    capture_unix = F.col("next_fetch_unix") - F.col("ttl_s")
    id_cols = [c for c in schedule.columns if c not in (
        "etag", "last_modified", "cache_control", "ttl_s",
        "next_fetch_unix", "revalidate_with",
    )]
    return joined.select(
        *id_cols,
        F.col("ttl_s").alias("header_ttl_s"),
        measured.alias("measured_interval_s"),
        effective.alias("ttl_s"),
        (capture_unix + effective).alias("next_fetch_unix"),
        F.when(
            measured.isNull() | (effective == F.col("ttl_s")),
            F.lit("headers"),
        )
        .otherwise(F.lit("measured"))
        .alias("schedule_source"),
        "revalidate_with",
    )


def revisit_resolve(records: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Resolve ``revisit`` records to their stored original by payload
    digest — the Common Crawl dedup contract (a recrawled, unchanged
    page is stored as a revisit record pointing at content kept
    elsewhere; consumers must join back to the bytes).  Input is the
    :func:`warc_records` catalog (any corpus slice); originals are the
    ``response`` records, keyed GLOBALLY by digest, the smallest
    (id, rec_idx) winning (the q12 min-id convention).  Returns
    (id, rec_idx, target_uri, payload_digest, orig_id, orig_rec_idx,
    orig_uri) — one row per revisit record whose digest has a stored
    original; one equi-join on the digest + a struct-min aggregate."""
    from pyspark.sql import functions as F

    from occupation_wage_etl_spark.operators._cache import cached

    # Both branches (revisits + originals) consume the same catalog;
    # persist ONE pruned pass — 5 light columns, never the payloads —
    # so the upstream parse (Arrow-batched for WARC sources) runs once
    # instead of twice (guide §2.4 remove-recompute, §2.3 project
    # before materializing).
    base = cached(
        records.filter(F.col("payload_digest").isNotNull()).select(
            F.col(id_col).alias("id"), "rec_idx", "target_uri",
            "payload_digest", "warc_type",
        )
    )
    revisits = base.filter(F.col("warc_type") == "revisit").select(
        "id", "rec_idx", "target_uri", "payload_digest",
    )
    originals = (
        base.filter(F.col("warc_type") == "response")
        .groupBy("payload_digest")
        .agg(
            F.min(
                F.struct(
                    F.col("id").alias("oid"),
                    F.col("rec_idx").alias("oidx"),
                    F.col("target_uri").alias("ouri"),
                )
            ).alias("__o")
        )
    )
    return revisits.join(originals, "payload_digest").select(
        F.col("id").alias(id_col),
        "rec_idx",
        "target_uri",
        "payload_digest",
        F.col("__o.oid").alias("orig_id"),
        F.col("__o.oidx").alias("orig_rec_idx"),
        F.col("__o.ouri").alias("orig_uri"),
    )
