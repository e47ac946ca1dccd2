"""CDX/CDXJ URL-index source (sources/cdx.py): SURT keys, CDXJ line
parsing (codegen from_json), prefix lookup pushdown, and the
offset-addressed record fetch against indexed WARC fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from occupation_wage_etl_spark.sources import cdx as C
from occupation_wage_etl_spark.sources import warc as W


def test_surt_key(spark):
    cases = [
        ("http://www.Example.COM/A/b?X=1", "com,example)/a/b?x=1"),
        ("https://sub.site.org:8443/p", "org,site,sub)/p"),
        ("http://example.com", "com,example)/"),
        ("http://h.example/path", "example,h)/path"),
    ]
    df = spark.createDataFrame(cases, "u string, want string")
    for r in df.select(
        "want", C.surt_key(F.col("u")).alias("got")
    ).collect():
        assert r.got == r.want, (r.got, r.want)
    # python fixture encoder agrees with the codegen key
    line = C.format_cdxj_line("http://www.Example.COM/A/b?X=1", "2024")
    assert line.split(" ", 1)[0] == "com,example)/a/b?x=1"


def test_cdx_records_parse_and_prefix(spark):
    lines = [
        C.format_cdxj_line(
            "http://a.example/p1", "20240101000000",
            digest="sha1:AAA", length=10, offset=0, filename="f0",
        ),
        C.format_cdxj_line(
            "http://b.example/p2", "20240102000000",
            status=404, mime="text/plain",
            digest="sha1:BBB", length=20, offset=10, filename="f1",
        ),
        "garbage line notjson",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    rec = C.cdx_records(df)
    got = {r.surt_key: r for r in rec.collect()}
    a = got["example,a)/p1"]
    assert (a.url, a.status, a.digest, a.length, a.offset, a.filename) == (
        "http://a.example/p1", 200, "sha1:AAA", 10, 0, "f0"
    )
    assert got["example,b)/p2"].status == 404
    # malformed json -> NULL fields, row preserved (null-on-error)
    bad = got["garbage"]
    assert bad.url is None and bad.status is None
    # prefix lookup
    assert C.cdx_prefix_lookup(rec, "example,a)").count() == 1
    assert C.cdx_prefix_lookup(rec, "example,").count() == 2
    # the predicate stays a pushable StartsWith
    plan = C.cdx_prefix_lookup(rec, "example,")._jdf.queryExecution().toString()
    assert "StartsWith" in plan


def test_cdx_fetch_offset_addressed(spark):
    # two archives, two records each; the index points at record 1 of
    # each by byte extent — fetch must parse exactly that record
    archives, index_lines = [], []
    for a in range(2):
        recs = [
            {
                "type": "response",
                "uri": f"http://s{a}.example/r{k}",
                "status": 200,
                "payload": f"payload a{a} r{k}".encode(),
                "payload_digest": True,
            }
            for k in range(2)
        ]
        data, extents = W.encode_warc_fixture_indexed(
            recs, gzip_records=(a == 1), warcinfo=False
        )
        archives.append((f"arc{a}.warc.gz", bytearray(data)))
        off, ln = extents[1]
        index_lines.append(
            C.format_cdxj_line(
                f"http://s{a}.example/r1", "20240101000000",
                digest=W.payload_digest_sha1(f"payload a{a} r1".encode()),
                length=ln, offset=off, filename=f"arc{a}.warc.gz",
            )
        )
    arc_df = spark.createDataFrame(archives, "filename string, content binary")
    idx = C.cdx_records(
        spark.createDataFrame([(l,) for l in index_lines], "line string")
    )
    out = {
        r.rec_uri: r
        for r in C.cdx_fetch(idx, arc_df, broadcast_archives=True).collect()
    }
    assert len(out) == 2
    for a in range(2):
        r = out[f"http://s{a}.example/r1"]
        assert r.payload_text == f"payload a{a} r1"
        assert r.rec_status == 200
        assert r.rec_digest == r.digest  # index digest == record digest


def test_record_extents_ground_truth():
    """_record_extents matches encode_warc_fixture_indexed's extents
    bit-exactly for BOTH storage layouts."""
    recs = [
        {"type": "warcinfo", "body": b"k: v\r\n"},
        {
            "type": "response", "uri": "http://www.A.example/P1",
            "status": 200, "payload": b"hello one",
            "payload_digest": True,
            "date": "2024-03-05T06:07:08Z",
            "http_content_type": "text/html; charset=utf-8",
        },
        {
            "type": "response", "uri": "http://b.example/p2",
            "status": 404, "payload": b"hello two",
            "payload_digest": True,
        },
    ]
    for gz in (True, False):
        data, extents = W.encode_warc_fixture_indexed(
            recs, gzip_records=gz, warcinfo=False
        )
        assert C._record_extents(data, 100) == extents, gz
        for off, ln in extents:
            assert len(W.parse_warc(data[off:off + ln], max_records=2)) == 1


def test_cdx_build_and_roundtrip(spark):
    """cdx_build emits cdx_records-compatible typed rows (response
    records only; SURT/timestamp/mime normalized) whose offsets drive
    cdx_fetch back to the right payloads."""
    recs = [
        {"type": "warcinfo", "body": b"k: v\r\n"},
        {
            "type": "response", "uri": "http://www.A.example/P1",
            "status": 200, "payload": b"payload one",
            "payload_digest": True,
            "date": "2024-03-05T06:07:08Z",
            "http_content_type": "text/html; charset=utf-8",
        },
        {
            "type": "response", "uri": "http://b.example/p2",
            "status": 404, "payload": b"payload two",
            "payload_digest": True,
        },
    ]
    data, _ = W.encode_warc_fixture_indexed(
        recs, gzip_records=True, warcinfo=False
    )
    arc = spark.createDataFrame(
        [("f0.warc.gz", bytearray(data))],
        "filename string, content binary",
    )
    idx = C.cdx_build(arc)
    rows = {r.surt_key: r for r in idx.collect()}
    assert set(rows) == {"example,a)/p1", "example,b)/p2"}  # no warcinfo
    a = rows["example,a)/p1"]
    assert (a.cdx_timestamp, a.mime, a.status) == (
        "20240305060708", "text/html", 200
    )
    assert a.digest == W.payload_digest_sha1(b"payload one")
    fetched = {
        r.rec_uri: r.payload_text for r in C.cdx_fetch(idx, arc).collect()
    }
    assert fetched == {
        "http://www.A.example/P1": "payload one",
        "http://b.example/p2": "payload two",
    }


def test_cdx_change_rate(spark):
    lines = []
    ts = ["20240101000000", "20240111000000", "20240121000000"]
    # u0: never changes; u1: changes once (at capture 3)
    for k in (2, 0, 1):  # out of order
        lines.append(C.format_cdxj_line(
            "http://u0.example/a", ts[k], digest="sha1:same",
            length=1, offset=0, filename="f"))
        lines.append(C.format_cdxj_line(
            "http://u1.example/b", ts[k],
            digest="sha1:x" if k < 2 else "sha1:y",
            length=1, offset=0, filename="f"))
    idx = C.cdx_records(
        spark.createDataFrame([(l,) for l in lines], "line string")
    )
    got = {r.surt_key: r for r in C.cdx_change_rate(idx).collect()}
    a, b = got["example,u0)/a"], got["example,u1)/b"]
    day = 86400
    assert (a.n_captures, a.n_changes) == (3, 0)
    assert a.span_s == 20 * day and a.mean_interval_s == 10 * day
    assert a.est_change_interval_s == 20 * day  # no observed change
    assert (b.n_captures, b.n_changes) == (3, 1)
    assert b.est_change_interval_s == 20 * day // 1


def test_cdx_change_rate_ties_and_malformed_ts(spark):
    """Same-second captures order by digest (deterministic n_changes);
    captures with unparseable timestamps are excluded entirely —
    counting them while skipping their NULL epoch would skew every
    interval."""
    rows = [
        # two captures in the SAME second + one later: digest order
        # within the tie is A then B -> transitions A->B->A = 2
        ("k,tie)/", "http://tie/", "20240101000000", "sha1:B"),
        ("k,tie)/", "http://tie/", "20240101000000", "sha1:A"),
        ("k,tie)/", "http://tie/", "20240103000000", "sha1:A"),
        # malformed timestamp row must not count anywhere
        ("k,bad)/", "http://bad/", "20240101000000", "sha1:p"),
        ("k,bad)/", "http://bad/", "2024010100000X", "sha1:q"),
        ("k,bad)/", "http://bad/", "20240121000000", "sha1:p"),
    ]
    idx = spark.createDataFrame(
        rows,
        "surt_key string, url string, cdx_timestamp string, "
        "digest string",
    )
    got = {r.surt_key: r for r in C.cdx_change_rate(idx).collect()}
    t = got["k,tie)/"]
    assert (t.n_captures, t.n_changes) == (3, 2)
    b = got["k,bad)/"]
    assert (b.n_captures, b.n_changes) == (2, 0)
    assert b.span_s == 20 * 86400 and b.mean_interval_s == 20 * 86400
