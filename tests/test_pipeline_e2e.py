"""End-to-end ETL test (SURVEY §5 test plan #3, FIXTURES B1).

Synthesizes a tiny WARC exercising every pipeline branch — valid page,
malformed HTML, oversize record, corrupt gzip, blacklisted hostname,
non-response record — runs the full url_resource pipeline, and checks row
accounting, stub semantics, and sink re-readability.
"""

from __future__ import annotations

import gzip

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from warcraider_spark.plans.pipeline import url_resource_from_warc_records, write_url_resource
from warcraider_spark.schema import URL_RESOURCE_FIELDS
from warcraider_spark.sources.warc import build_warc_bytes, read_warc

GOOD_HTML = b"""<html><head><title>Good Page</title>
<meta name="description" content="a test page" />
<link rel="stylesheet" href="/style.css" />
<script src="/app.js"></script>
</head><body>
<h1>Heading One</h1>
<p>Some body text with <a href="/relative">a link</a> and
<a href="https://other.example.org/abs">another</a>.</p>
<script>ga('create', 'UA-12345-6', 'auto'); ga('send', 'pageview');</script>
</body></html>"""

MALFORMED_HTML = b"<html><body><p>broken <b>page<a href='/x.htm'>link</p></body>"

BIG_HTML = b"<html><head><title>Big</title></head><body>" + b"x" * 2_100_000 + b"</body></html>"


def _http(body: bytes, extra_headers: str = "") -> bytes:
    return (
        b"HTTP/1.1 200 OK\nContent-Type: text/html\n"
        + extra_headers.encode()
        + b"\n\r\n"
        + body
    )


@pytest.fixture(scope="module")
def warc_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("warc")
    records = [
        (  # 1: valid page with funnelback headers
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://www.example.gov.au/page",
                "Uncompressed-Content-Length": str(len(GOOD_HTML) + 100),
            },
            _http(
                GOOD_HTML,
                "X-Funnelback-Total-Request-Time-MS: 1500\nX-Funnelback-AA-Domain: override.gov.au\n",
            ),
        ),
        (  # 2: malformed HTML → still parsed by the lenient parser
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://malformed.example.gov.au/bad",
                "Uncompressed-Content-Length": str(len(MALFORMED_HTML) + 50),
            },
            _http(MALFORMED_HTML),
        ),
        (  # 3: oversize → regex-fallback row (no HTML parse)
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://big.example.gov.au/huge",
                "Uncompressed-Content-Length": str(len(BIG_HTML)),
            },
            _http(BIG_HTML),
        ),
        (  # 5: blacklisted hostname → dropped
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://data.gov.au/dataset",
                "Uncompressed-Content-Length": "100",
            },
            _http(b"<html><body>blacklisted</body></html>"),
        ),
        (  # 6: non-response record → filtered
            {
                "WARC-Type": "request",
                "WARC-Target-URI": "https://www.example.gov.au/page",
                "Uncompressed-Content-Length": "10",
            },
            b"GET /page",
        ),
    ]
    raw = build_warc_bytes(records)
    # 4: corrupt-gzip record spliced in manually (build_warc_bytes would gzip)
    bad_body = b"\x1f\x8b\x08\x00NOTGZIP_GARBAGE"
    bad = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: https://corrupt.example.gov.au/gz\r\n"
        b"Uncompressed-Content-Length: 50\r\n"
        + f"Content-Length: {len(bad_body)}\r\n\r\n".encode()
        + bad_body
        + b"\r\n\r\n"
    )
    p = d / "test-000.warc"
    p.write_bytes(raw + bad)
    return str(d)


@pytest.fixture(scope="module")
def output(spark, warc_path):
    records = read_warc(spark, warc_path)
    df = url_resource_from_warc_records(records)
    rows = {r["url"]: r.asDict() for r in df.collect()}
    return df, rows


def test_row_accounting(output):
    _, rows = output
    # 6 records: blacklist, request-type, corrupt gzip dropped → 3 rows
    assert set(rows) == {
        "https://www.example.gov.au/page",
        "https://malformed.example.gov.au/bad",
        "https://big.example.gov.au/huge",
    }


def test_schema(output):
    df, _ = output
    assert tuple(df.columns) == URL_RESOURCE_FIELDS


def test_good_page(output):
    _, rows = output
    r = rows["https://www.example.gov.au/page"]
    assert r["title"] == "Good Page"
    assert r["hostname"] == "override.gov.au"  # X-Funnelback-AA-Domain wins
    assert r["domain_name"] == "example.gov.au"  # from the REGEX hostname
    assert r["load_time"] == pytest.approx(1.5)
    assert r["headings_text"] == "Heading One"
    # links absolutized, sorted, deduped
    assert r["links"] == [
        "https://other.example.org/abs",
        "https://www.example.gov.au/relative",
    ]
    assert "https://www.example.gov.au/style.css" in r["resource_urls"]
    assert "https://www.example.gov.au/app.js" in r["resource_urls"]
    assert r["google_analytics"] == ["UA-12345-6"]
    # ga(...) captures minus the plain pageview send
    assert "'create', 'UA-12345-6', 'auto'" in r["google_analytics_config"]
    assert "'send', 'pageview'" not in r["google_analytics_config"]
    assert r["headers"]["Content-Type"] == "text/html"
    assert r["word_count"] > 0
    assert r["meta_tags"]["description"] == "a test page"
    assert len(r["keywords"]) > 0


def test_malformed_still_parses(output):
    _, rows = output
    r = rows["https://malformed.example.gov.au/bad"]
    assert "broken" in r["text_content"]
    assert "https://malformed.example.gov.au/x.htm" in r["links"]


def test_oversize_fallback(output):
    _, rows = output
    r = rows["https://big.example.gov.au/huge"]
    # parse skipped → regex fallback: title via regex, headings empty
    assert r["title"] == "Big"
    assert r["headings_text"] == ""
    assert r["size_bytes"] > 2_000_000
    assert r["word_count"] >= 1


def test_sink_roundtrip(output, spark, tmp_path_factory):
    df, _ = output
    out = str(tmp_path_factory.mktemp("sink") / "url_resource")
    fmt = write_url_resource(df, out)
    assert fmt in ("parquet", "avro")
    back = spark.read.parquet(out) if fmt == "parquet" else spark.read.format("avro").load(out)
    assert back.count() == 3
    assert set(back.columns) == set(URL_RESOURCE_FIELDS)


def test_warc_python_datasource(spark, warc_path):
    """spark.read.format('warc') (Spark 4 Python DataSource) returns the
    same records as the binaryFile+mapInPandas route."""
    from warcraider_spark.sources.warc import register_warc_datasource

    if not register_warc_datasource(spark):
        pytest.skip("Python DataSource API unavailable")
    via_ds = spark.read.format("warc").load(warc_path)
    via_map = read_warc(spark, warc_path)
    a = {(r.record_idx, r.version, r.headers.get("WARC-Target-URI")) for r in via_ds.collect()}
    b = {(r.record_idx, r.version, r.headers.get("WARC-Target-URI")) for r in via_map.collect()}
    assert a == b
    assert len(a) == 6


def test_observed_metrics(spark, warc_path):
    """Observation counters mirror the reference's per-batch logging
    (records in / responses / blacklist survivors / gzip-decodable /
    fallbacks) and are computed DURING the action — no extra passes."""
    records = read_warc(spark, warc_path)
    metrics: dict = {}
    df = url_resource_from_warc_records(records, metrics=metrics)
    _assert_fixture_counters(metrics, df.count())


def test_observed_metrics_after_avro_write(spark, warc_path, tmp_path):
    """The Avro sink is a Dataset action too (the dependency-free OCF
    writer runs through mapInArrow), so the same counters fill during
    the write instead of Observation.get blocking forever."""
    metrics: dict = {}
    df = url_resource_from_warc_records(read_warc(spark, warc_path), metrics=metrics)
    assert write_url_resource(df, str(tmp_path / "avro"), fmt="avro") in ("avro", "avro-ocf")
    _assert_fixture_counters(metrics, 3)


def _assert_fixture_counters(metrics: dict, n_out: int) -> None:
    m = {name: obs.get for name, obs in metrics.items()}
    assert m["input"]["n_records"] == 6
    assert m["responses"]["n_responses"] == 5  # request-type record dropped
    assert m["post_blacklist"]["n_kept"] == 4  # blacklisted host dropped
    assert m["decompressed"]["n_ok_gzip"] == 3  # corrupt gzip dropped
    assert m["parsed"]["n_rows"] == n_out == 3
    # the oversize record takes the regex-fallback path (html.ok = false)
    assert m["parsed"]["n_oversize"] == 1
    assert m["parsed"]["n_parse_fallback"] >= 1


def test_ranged_read_path_e2e(spark, warc_path, output):
    """The production dataflow through the byte-range-parallel read path
    (VERDICT r5 directive #7): read_warc_auto with a threshold below the
    fixture size must route through read_warc_ranged and produce the SAME
    url_resource rows (incl. the `source` column, i.e. warc_file URI
    normalization holds) and the same row accounting as the whole-file
    path."""
    from pyspark.sql import functions as F

    from warcraider_spark.sources.warc import read_warc_auto

    _, whole_rows = output
    ranged = read_warc_auto(
        spark, warc_path, ranged_threshold_bytes=1, target_split_bytes=2000
    )
    # really routed through the ranged reader: ONE file's records come from
    # multiple tasks (the whole-file path is one task per file)
    pids = ranged.select(F.spark_partition_id().alias("pid")).distinct().count()
    assert pids >= 2
    df = url_resource_from_warc_records(ranged)
    got = {r["url"]: r.asDict() for r in df.collect()}
    assert set(got) == set(whole_rows)
    for url, row in got.items():
        assert row == whole_rows[url], url


def test_unicode_whitespace_through_pipeline(spark, tmp_path_factory):
    """r11: the Unicode whitespace-class fix verified ON THE PIPELINE
    PATH where main.rs:383-386 actually runs — a WARC response whose
    HTML body carries U+3000/NBSP runs must come out with those runs
    DELETED from text_content (the reference's Rust \\s is Unicode
    White_Space) and with word_count counting Unicode-separated tokens
    (main.rs:470 par_split_whitespace). Before the (?U) fix the runs
    survived and the U+3000-separated CJK pair counted as one token."""
    html = (
        "<html><head><title>t</title></head><body>"
        "start\u3000\u3000middle\u00a0\u00a0end "
        "\u6df1\u5ea6\u5b66\u4e60\u3000\u6a21\u578b"
        "</body></html>"
    ).encode("utf-8")
    d = tmp_path_factory.mktemp("uniwarc")
    records = [
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://uni.example.gov.au/ws",
                "Uncompressed-Content-Length": str(len(html) + 100),
            },
            _http(html),
        )
    ]
    (d / "uni-000.warc").write_bytes(build_warc_bytes(records))
    rows = url_resource_from_warc_records(read_warc(spark, str(d))).collect()
    assert len(rows) == 1
    r = rows[0]
    # the ≥2 runs are DELETED (concatenating neighbors, the quirk), the
    # single U+3000 between the CJK tokens is KEPT
    assert r["text_content"] == "startmiddleend \u6df1\u5ea6\u5b66\u4e60\u3000\u6a21\u578b"
    # word_count: Unicode split_whitespace over the normalized text —
    # 'startmiddleend' + the two U+3000-separated CJK tokens
    assert r["word_count"] == 3


def test_strict_attr_bytes_through_pipeline(spark, tmp_path_factory):
    """r12 (3-leg r13): the path-keyed attribute-byte contract verified
    ON THE PIPELINE PATH — a strict-parsing page (balanced,
    entity-bearing hrefs) must surface its links in html5ever's escaped
    bytes ('&amp;' survives into the absolutized URL exactly as the
    reference's from_utf8_lossy strict leg emits it, and '&quot;' is
    stripped by the quote-mark regex the reference applies at
    lib.rs:410). A tidy-path page (structural failure, no preserved
    fatal token) emits the SAME escaped bytes — ammonia re-serializes
    AFTER tidy (ADVICE r12); only the soup leg (script-interior fatal,
    see test_parse_cascade_fuzz) keeps the decoded reading."""
    strict_html = (
        '<html><head><title>t</title></head><body>'
        '<a href="/p?a=1&amp;b=2">x</a>'
        "<a href='/q\"r'>y</a>"
        "</body></html>"
    ).encode("utf-8")
    tidy_html = (
        '<html><body><div><a href="/p?a=1&amp;b=2">x</a></body></html>'
    ).encode("utf-8")
    soup_html = (
        "<html><body><script>var x='<!'+'[CD'+'ATA';</script>"
        '<a href="/p?a=1&amp;b=2">x</a></body></html>'
    ).encode("utf-8")
    d = tmp_path_factory.mktemp("attrwarc")
    records = [
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://s.example.gov.au/dir/page",
                "Uncompressed-Content-Length": str(len(strict_html) + 100),
            },
            _http(strict_html),
        ),
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://t.example.gov.au/dir/page",
                "Uncompressed-Content-Length": str(len(tidy_html) + 100),
            },
            _http(tidy_html),
        ),
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://u.example.gov.au/dir/page",
                "Uncompressed-Content-Length": str(len(soup_html) + 100),
            },
            _http(soup_html),
        ),
    ]
    (d / "attr-000.warc").write_bytes(build_warc_bytes(records))
    rows = {
        r["url"]: r
        for r in url_resource_from_warc_records(read_warc(spark, str(d))).collect()
    }
    s = rows["https://s.example.gov.au/dir/page"]
    # strict page: html_errors empty (tidy never ran), links escaped
    assert s["html_errors"] == ""
    assert s["links"] == [
        "https://s.example.gov.au/p?a=1&amp;b=2",
        "https://s.example.gov.au/qr",  # &quot; stripped post-join
    ]
    t = rows["https://t.example.gov.au/dir/page"]
    # tidy page (unclosed <div>): escaped bytes like the strict leg
    # (ammonia escapes after tidy), diagnostics present
    assert t["html_errors"] != ""
    assert t["links"] == ["https://t.example.gov.au/p?a=1&amp;b=2"]
    u = rows["https://u.example.gov.au/dir/page"]
    # soup page (script-interior '<!' bang — the moneysmart mechanism):
    # quick-xml dies on BOTH legs, html5ever's DOM getters decode
    assert u["html_errors"] != ""
    assert u["links"] == ["https://u.example.gov.au/p?a=1&b=2"]


def test_blacklist_keeps_empty_and_unmatched_hostnames(spark, tmp_path):
    """The native blacklist predicate drops only listed hosts/urls: a
    record whose URL yields an empty regex hostname (no scheme, or no
    WARC-Target-URI at all) and a host that merely contains a listed
    host are kept, as the anti-join kept them; null keys match no rule."""
    from pyspark.sql import functions as F

    from warcraider_spark.functions import extract as X

    page = _http(b"<html><body><p>kept</p></body></html>")
    headers = {"WARC-Type": "response", "Uncompressed-Content-Length": str(len(page))}
    records = [
        ({**headers, "WARC-Target-URI": "no-scheme/page"}, page),
        (headers, page),
        ({**headers, "WARC-Target-URI": "https://www.data.gov.au.example.org/x"}, page),
        ({**headers, "WARC-Target-URI": "https://data.gov.au/x"}, page),
    ]
    (tmp_path / "bl-000.warc").write_bytes(build_warc_bytes(records))
    rows = url_resource_from_warc_records(read_warc(spark, str(tmp_path))).collect()
    assert sorted(r["url"] for r in rows) == ["", "https://www.data.gov.au.example.org/x", "no-scheme/page"]

    keys = spark.createDataFrame(
        [(None, None), (None, "https://x.example/"), ("x.example", None), ("data.gov.au", None)],
        "host string, url string",
    )
    got = [r.b for r in keys.select(X.on_blacklist(F.col("host"), F.col("url")).alias("b")).collect()]
    assert got == [False, False, False, True]


_BODY_PIECES = st.sampled_from(["\n\r\n", "\n\r\n\r\n", "\n", "\r", "\r\n", " ", "a", "\u00e9", "<p>"])


@settings(max_examples=25, deadline=None)
@given(st.lists(st.lists(_BODY_PIECES, max_size=12).map("".join), min_size=1, max_size=20))
@example(["", "\n\r\n", "\n\r\nbody", "head\n\r\n", "\n\r\n\n\r\n", "h\n\r\n\n\r\nb\n\r\n"])
def test_crossing_body_split_matches_native(spark, contents):
    """The decompress+parse crossing splits the HTTP body in Python; it
    must equal the native X.http_body the regex fallback and GA columns
    read, including leading/trailing separators and \\n\\r\\n runs."""
    from pyspark.sql import functions as F

    from warcraider_spark.functions import extract as X

    df = spark.createDataFrame(list(enumerate(contents)), "i int, c string")
    native = [r.b for r in df.orderBy("i").select(X.http_body(F.col("c")).alias("b")).collect()]
    assert native == [X.http_body_py(c) for c in contents]
