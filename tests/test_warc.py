"""Distributed WARC/WET ingestion (`sources/warc.py`): spec framing, per-
member gzip splitting, HTTP payload parse, corruption routing, and the
write_warc → read_warc byte round-trip that the correctness gate's
`warc_ingest` branch extends to the full documents corpus."""

import gzip

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.sources.warc import (
    build_http_response_payload,
    build_record,
    iter_warc_records,
    read_warc,
    warc_documents,
    write_warc,
)

HTML = b"<html><body><p>Hello &amp; welcome</p><script>x=1</script></body></html>"


def _archive_bytes(per_member_gzip=True):
    """Three records: warcinfo, response (HTML), conversion (WET text)."""
    records = [
        build_record("warcinfo", b"software: test\r\n"),
        build_record(
            "response",
            build_http_response_payload(HTML),
            target_uri="https://ex.com/a",
        ),
        build_record(
            "conversion",
            "already extracted text Ω".encode("utf-8"),
            target_uri="https://ex.com/a",
            content_type="text/plain",
        ),
    ]
    if per_member_gzip:
        return b"".join(gzip.compress(r, mtime=0) for r in records)
    return b"".join(records)


def test_iter_warc_records_framing():
    got = list(iter_warc_records(b"".join([
        build_record("response", b"abc", target_uri="https://x/1"),
        build_record("metadata", b""),
    ])))
    assert [e for *_, e in got] == [None, None]
    (h1, b1, _), (h2, b2, _) = got
    assert h1["warc-type"] == "response" and b1 == b"abc"
    assert h1["warc-target-uri"] == "https://x/1"
    assert h2["warc-type"] == "metadata" and b2 == b""


@pytest.mark.parametrize("gz", [True, False])
def test_read_warc_parses_all_record_types(spark, tmp_path, gz):
    name = "t.warc.gz" if gz else "t.warc"
    (tmp_path / name).write_bytes(_archive_bytes(per_member_gzip=gz))
    rows = {r["warc_type"]: r for r in read_warc(spark, str(tmp_path)).collect()}
    assert set(rows) == {"warcinfo", "response", "conversion"}
    resp = rows["response"]
    assert resp["target_uri"] == "https://ex.com/a"
    assert resp["http_status"] == 200
    assert resp["http_content_type"].startswith("text/html")
    assert bytes(resp["payload"]) == HTML  # HTTP head stripped, body intact
    conv = rows["conversion"]
    assert bytes(conv["payload"]).decode() == "already extracted text Ω"
    assert conv["http_status"] is None
    assert all(r["parse_error"] is None for r in rows.values())


def test_read_warc_routes_corrupt_member_and_resyncs(spark, tmp_path):
    """A damaged middle member costs exactly ITS record: the reader reports
    one parse_error row and resynchronizes at the next gzip magic."""
    r = [gzip.compress(build_record(
            "response", build_http_response_payload(b"<p>%d</p>" % i),
            target_uri=f"https://ex.com/{i}"), mtime=0) for i in range(3)]
    bad = bytearray(r[1])
    for i in range(12, 30):  # stomp the deflate stream, keep the magic
        bad[i] ^= 0xFF
    (tmp_path / "c.warc.gz").write_bytes(r[0] + bytes(bad) + r[2])
    out = read_warc(spark, str(tmp_path)).collect()
    good = [x for x in out if x["parse_error"] is None]
    errs = [x for x in out if x["parse_error"] is not None]
    assert {x["target_uri"] for x in good} == {"https://ex.com/0", "https://ex.com/2"}
    assert len(errs) == 1 and "gzip" in errs[0]["parse_error"]
    with pytest.raises(Exception):
        read_warc(spark, str(tmp_path), on_error="fail").collect()


def test_warc_documents_shape(spark, tmp_path):
    (tmp_path / "t.warc.gz").write_bytes(_archive_bytes())
    docs = warc_documents(read_warc(spark, str(tmp_path)))
    rows = docs.orderBy("mime").collect()
    # warcinfo filtered out; response + conversion remain
    assert len(rows) == 2
    html_doc = [r for r in rows if r["mime"].startswith("text/html")][0]
    assert html_doc["text"] == "Hello & welcome"  # entities + script handled
    assert html_doc["url"] == "https://ex.com/a"
    assert html_doc["http_status"] == 200
    assert html_doc["fetched_at"] is not None and html_doc["doc_id"] >= 0
    wet_doc = [r for r in rows if r["mime"] == "text/plain"][0]
    assert wet_doc["text"] == "already extracted text Ω"


def test_write_warc_read_warc_roundtrip(spark, tmp_path):
    """Distributed export → re-ingest is byte-lossless, archives are
    per-record gzip members (independently decompressable), and empty
    partitions write no archive."""
    rows = [
        Row(target_uri=f"https://site{i % 3}.com/doc/{i}",
            payload=f"<html><body>doc {i} Ω</body></html>".encode())
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "target_uri string, payload binary")
    written = write_warc(df.repartition(4), str(tmp_path), warcinfo="t: 1\r\n")
    assert 0 < len(written) <= 4
    assert all(w.endswith(".warc.gz") for w in written)
    back = read_warc(spark, str(tmp_path))
    resp = back.filter(F.col("warc_type") == "response").collect()
    assert len(resp) == 10
    by_uri = {r["target_uri"]: r for r in resp}
    for row in rows:
        got = by_uri[row["target_uri"]]
        assert bytes(got["payload"]) == row["payload"]
        assert got["http_status"] == 200
        assert got["parse_error"] is None
    # warcinfo leads each non-empty archive
    infos = back.filter(F.col("warc_type") == "warcinfo").collect()
    assert len(infos) == len(written)
    assert all(i["record_no"] == 0 for i in infos)
    # per-member framing: first member of an archive decompresses standalone
    first = (tmp_path / written[0]).read_bytes()
    import zlib
    d = zlib.decompressobj(wbits=31)
    member = d.decompress(first)
    assert member.startswith(b"WARC/1.0") and d.unused_data


def test_write_warc_task_retry_is_byte_identical(spark, tmp_path):
    """Record ids are content-derived, gzip mtime pinned: rewriting the same
    partition reproduces the archive byte-for-byte (task-retry idempotence,
    the sink's deterministic-name contract applied to WARC export)."""
    rows = [Row(target_uri="https://a/1", payload=b"<p>x</p>")]
    df = spark.createDataFrame(rows, "target_uri string, payload binary").coalesce(1)
    w1 = write_warc(df, str(tmp_path / "a"))
    w2 = write_warc(df, str(tmp_path / "b"))
    assert w1 == w2
    assert (tmp_path / "a" / w1[0]).read_bytes() == (tmp_path / "b" / w2[0]).read_bytes()


@pytest.fixture(scope="module")
def warc_registered(spark):
    from kafka_connector_s3_sink_spark.sources.warc import WarcDataSource

    spark.dataSource.register(WarcDataSource)
    return spark


def test_warc_datasource_matches_binaryfile_route(warc_registered, spark, tmp_path):
    """The registrable 'warc' format (streaming gzip-member decode, O(chunk)
    task memory) yields exactly the rows of the binaryFile route."""
    (tmp_path / "a.warc.gz").write_bytes(_archive_bytes())
    via_ds = (
        spark.read.format("warc").option("path", str(tmp_path)).load().collect()
    )
    via_bf = read_warc(spark, str(tmp_path)).collect()

    def key(rows):
        return sorted(
            (r["warc_type"], r["target_uri"],
             bytes(r["payload"]) if r["payload"] is not None else None,
             r["http_status"], r["content_length"])
            for r in rows
        )

    assert key(via_ds) == key(via_bf) and len(via_ds) == 3
    # one partition per archive
    df = spark.read.format("warc").option("path", str(tmp_path)).load()
    assert df.rdd.getNumPartitions() == 1


def test_warc_datasource_streaming_two_epochs(warc_registered, spark, tmp_path):
    """readStream.format('warc'): first drain ingests existing archives; a
    new drop is picked up from the checkpoint as exactly the delta."""
    store, out, ckpt = (str(tmp_path / d) for d in ("store", "out", "ckpt"))
    import os
    os.makedirs(store)
    (tmp_path / "store" / "a.warc.gz").write_bytes(_archive_bytes())

    def drain():
        q = (
            spark.readStream.format("warc")
            .option("path", store)
            .load()
            .filter(F.col("warc_type") == "response")
            .select("target_uri", "record_no")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert {r["target_uri"] for r in spark.read.parquet(out).collect()} == {
        "https://ex.com/a"
    }
    late = build_record(
        "response",
        build_http_response_payload(b"<p>late</p>"),
        target_uri="https://ex.com/late",
    )
    (tmp_path / "store" / "b.warc.gz").write_bytes(gzip.compress(late, mtime=0))
    drain()
    uris = sorted(r["target_uri"] for r in spark.read.parquet(out).collect())
    assert uris == ["https://ex.com/a", "https://ex.com/late"]


def test_warc_datasource_routes_corrupt_stream(warc_registered, spark, tmp_path):
    """A corrupt gzip member in the streaming decoder aborts that archive's
    remainder as ONE routed error row; the archive's earlier records and
    other archives survive."""
    r0 = gzip.compress(build_record(
        "response", build_http_response_payload(b"<p>0</p>"),
        target_uri="https://ok/0"), mtime=0)
    bad = bytearray(gzip.compress(build_record(
        "response", build_http_response_payload(b"<p>1</p>"),
        target_uri="https://bad/1"), mtime=0))
    for i in range(12, 30):
        bad[i] ^= 0xFF
    (tmp_path / "c.warc.gz").write_bytes(r0 + bytes(bad))
    (tmp_path / "d.warc.gz").write_bytes(_archive_bytes())
    rows = (
        spark.read.format("warc").option("path", str(tmp_path)).load().collect()
    )
    good = [r for r in rows if r["parse_error"] is None]
    errs = [r for r in rows if r["parse_error"] is not None]
    assert {r["target_uri"] for r in good if r["warc_type"] == "response"} == {
        "https://ok/0", "https://ex.com/a"
    }
    assert len(errs) == 1 and errs[0]["warc_file"] == "c.warc.gz"


def test_write_wet_roundtrip(spark, tmp_path):
    """WET export: documents → conversion archives → re-ingest yields the
    same texts via warc_documents (the post-extraction corpus materialized
    crawl-natively); null-text rows are skipped."""
    from kafka_connector_s3_sink_spark.sources.warc import write_wet

    rows = [
        Row(url=f"https://d/{i}", text=f"extracted text Ω {i}") for i in range(5)
    ] + [Row(url="https://d/null", text=None)]
    docs = spark.createDataFrame(rows, "url string, text string").repartition(2)
    written = write_wet(docs, str(tmp_path), warcinfo="w: 1\r\n")
    assert written and all(w.endswith(".warc.wet.gz") for w in written)
    back = warc_documents(read_warc(spark, str(tmp_path)))
    got = {r["url"]: r["text"] for r in back.collect()}
    assert got == {f"https://d/{i}": f"extracted text Ω {i}" for i in range(5)}
    assert all(r["mime"] == "text/plain" for r in back.collect())


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=200), min_size=1, max_size=6
    ),
    uri_suffix=st.text(
        alphabet="abc/Ω?&=%", min_size=0, max_size=12
    ),
)
def test_warc_framing_roundtrip_property(payloads, uri_suffix):
    """Framing is Content-Length-delimited: ANY payload bytes — including
    embedded CRLFCRLF, gzip magic, 'WARC/' strings, and empty bodies —
    round-trip through build_record → iter_warc_records AND the incremental
    streaming parser, byte-identically and in order."""
    from kafka_connector_s3_sink_spark.sources.warc import (
        _parse_records_streaming,
    )

    tricky = [b"\r\n\r\nWARC/1.0\r\n", b"\x1f\x8b\x08", b""]
    bodies = payloads + tricky
    uri = "https://ex.com/" + uri_suffix
    blob = b"".join(
        build_record("resource", b, target_uri=uri) for b in bodies
    )
    batch = [(h, body, e) for h, body, e in iter_warc_records(blob)]
    assert [e for *_, e in batch] == [None] * len(bodies)
    assert [b for _, b, _ in batch] == bodies
    assert all(h["warc-target-uri"] == uri for h, *_ in batch)
    # incremental parser sees the same records across ARBITRARY chunking
    for chunk in (1, 7, len(blob) or 1):
        pieces = [blob[i : i + chunk] for i in range(0, len(blob), chunk)]
        stream = [(h, b, e) for h, b, e in _parse_records_streaming(iter(pieces))]
        assert [b for _, b, _ in stream] == bodies
        assert [e for *_, e in stream] == [None] * len(bodies)


def test_warc_datasource_large_record_and_many_records(warc_registered, spark, tmp_path):
    """The incremental decoder buffers at most ONE record: a payload larger
    than the read chunk (1 MiB) spans many chunks and round-trips intact,
    and a many-record archive streams through with exact counts."""
    import hashlib

    big = b"".join(
        hashlib.sha256(str(i).encode()).digest() for i in range(100_000)
    )  # ~3.2 MB, incompressible-ish
    records = [build_record("response", build_http_response_payload(big),
                            target_uri="https://big/1")]
    records += [
        build_record("response", build_http_response_payload(b"<p>%d</p>" % i),
                     target_uri=f"https://many/{i}")
        for i in range(5000)
    ]
    (tmp_path / "big.warc.gz").write_bytes(
        b"".join(gzip.compress(r, mtime=0) for r in records)
    )
    df = spark.read.format("warc").option("path", str(tmp_path)).load()
    assert df.count() == 5001
    got_big = df.filter(F.col("target_uri") == "https://big/1").collect()[0]
    assert bytes(got_big["payload"]) == big
    assert df.filter(F.col("parse_error").isNotNull()).count() == 0


def test_enrich_crawl_documents(spark, tmp_path):
    """The one-call enrichment over warc_documents: URL hygiene, language,
    quality, tokens, fingerprint — all present, correct, and shuffle-free."""
    from kafka_connector_s3_sink_spark.sources.warc import (
        enrich_crawl_documents,
    )

    en = ("the committee published the report and the council voted to "
          "adopt it for the town this year with the support of the mayor")
    rec = build_record(
        "response",
        build_http_response_payload(
            f"<html><body><p>{en}</p></body></html>".encode()
        ),
        target_uri="https://www.shop.example.co.uk/p?utm_source=x&id=3",
    )
    (tmp_path / "t.warc.gz").write_bytes(gzip.compress(rec, mtime=0))
    out = enrich_crawl_documents(
        warc_documents(read_warc(spark, str(tmp_path)))
    )
    r = out.collect()[0]
    assert r["host"] == "www.shop.example.co.uk"
    assert r["domain"] == "example.co.uk"
    assert r["canonical_url"] == "https://www.shop.example.co.uk/p?id=3"
    assert r["lang"] == "en"
    assert r["quality"] > 0.2 and r["n_tokens"] == len(en.split())
    assert len(r["fingerprint"]) == 32
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # enrichment fuses into the parse stage


def test_warc_sql_view(warc_registered, spark, tmp_path):
    """The warc format is SQL-reachable: CREATE TEMPORARY VIEW ... USING
    warc, queried with plain SQL over record columns."""
    (tmp_path / "t.warc.gz").write_bytes(_archive_bytes())
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW crawl_view
            USING warc OPTIONS (path '{tmp_path}')"""
    )
    rows = spark.sql(
        "SELECT warc_type, http_status FROM crawl_view "
        "WHERE warc_type = 'response'"
    ).collect()
    assert [(r["warc_type"], r["http_status"]) for r in rows] == [("response", 200)]


def test_bare_lf_header_with_crlfcrlf_in_payload():
    """Earliest-terminator rule (r7 advice fix): a bare-LF-terminated WARC
    header whose PAYLOAD contains CRLFCRLF must not let the CRLFCRLF steal
    the terminator — that misparses Content-Length and loses the rest of
    the member. Covers the batch parser, the streaming parser, and the
    HTTP splitter."""
    from kafka_connector_s3_sink_spark.sources.warc import (
        _parse_records_streaming,
        _split_http_payload,
    )

    payload = b"leading\r\n\r\ntrailing bytes"
    rec = (
        b"WARC/1.0\n"
        b"WARC-Type: resource\n"
        b"WARC-Target-URI: https://lf.example/a\n"
        + b"Content-Length: " + str(len(payload)).encode() + b"\n\n"
        + payload + b"\r\n\r\n"
    )
    follow = build_record("metadata", b"after")
    # batch parser: both records survive, payload byte-exact
    got = list(iter_warc_records(rec + follow))
    assert [e for *_, e in got] == [None, None]
    assert got[0][0]["warc-target-uri"] == "https://lf.example/a"
    assert got[0][1] == payload
    assert got[1][0]["warc-type"] == "metadata"
    # streaming parser: same result fed in 7-byte pieces
    pieces = [rec[i : i + 7] for i in range(0, len(rec), 7)] + [follow]
    got_s = list(_parse_records_streaming(iter(pieces)))
    assert [e for *_, e in got_s] == [None, None]
    assert got_s[0][1] == payload
    # HTTP splitter: bare-LF head, CRLFCRLF inside the body
    body = b"part1\r\n\r\npart2"
    status, ctype, got_body = _split_http_payload(
        b"HTTP/1.1 200 OK\nContent-Type: text/plain\n\n" + body
    )
    assert status == 200 and ctype == "text/plain" and got_body == body


def _members(n=5):
    return [gzip.compress(build_record(
        "response", build_http_response_payload(b"<p>%d</p>" % i),
        target_uri=f"https://ex.com/{i}"), mtime=0) for i in range(n)]


def _stomp(member):
    bad = bytearray(member)
    for i in range(12, 30):  # past the 10-byte gzip header: the magic survives
        bad[i] ^= 0xFF
    return bytes(bad)


def _bad_length(member):
    record = gzip.decompress(member)
    return gzip.compress(
        record.replace(b"Content-Length: ", b"Content-Length: x", 1), mtime=0
    )


_DAMAGED = {
    "corrupt_first": lambda m: _stomp(m[0]) + b"".join(m[1:]),
    "corrupt_middle": lambda m: b"".join(m[:2]) + _stomp(m[2]) + b"".join(m[3:]),
    "corrupt_last": lambda m: b"".join(m[:4]) + _stomp(m[4]),
    "garbage_between": lambda m: b"".join(m[:2]) + b"not gzip" + b"".join(m[2:]),
    "framing_error": lambda m: b"".join(m[:2]) + _bad_length(m[2]) + b"".join(m[3:]),
    "truncated_tail": lambda m: b"".join(m[:4]) + m[4][: len(m[4]) // 2],
}


@pytest.mark.parametrize("damage", sorted(_DAMAGED))
def test_warc_datasource_matches_read_warc_on_damaged_archives(
    warc_registered, spark, tmp_path, damage
):
    """Both readers share one decoder, so a damaged archive yields the same
    rows through spark.read.format("warc") as through read_warc: the damage
    costs its own member and both resume at the next one."""
    (tmp_path / "d.warc.gz").write_bytes(_DAMAGED[damage](_members()))

    def key(df):
        return sorted(
            (r["record_no"], r["warc_type"], r["target_uri"],
             bytes(r["payload"]) if r["payload"] is not None else None,
             r["http_status"], r["parse_error"])
            for r in df.collect()
        )

    via_bf = key(read_warc(spark, str(tmp_path)))
    via_ds = key(spark.read.format("warc").option("path", str(tmp_path)).load())
    assert via_ds == via_bf
    assert sum(r[5] is not None for r in via_bf) == 1
    assert sum(r[5] is None for r in via_bf) == (5 if damage == "garbage_between" else 4)


def test_write_warc_aborts_failed_archive(spark, tmp_path):
    """A record that cannot be built fails the task, and the archive it was
    streaming into is aborted: no archive and no in-progress temp remain."""
    import os

    rows = [
        Row(target_uri=f"https://a/{i}", payload=b"<p>%d</p>" % i,
            http_content_type=ctype)
        for i, ctype in enumerate(
            ["text/html", "text/html; charset=Ω", "text/html"]
        )
    ]
    df = spark.createDataFrame(
        rows, "target_uri string, payload binary, http_content_type string"
    ).coalesce(1)
    dest = tmp_path / "out"
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")  # the first record is written before the failure
    try:
        with pytest.raises(Exception, match="latin-1"):
            write_warc(df, str(dest))
    finally:
        spark.conf.set(key, old)
    assert not dest.exists() or os.listdir(dest) == []


def test_negative_content_length_is_a_framing_error():
    """A negative Content-Length is invalid, not a zero-length body that
    would send the framer back into the header it just read."""
    rec = build_record("resource", b"abc").replace(
        b"Content-Length: 3", b"Content-Length: -3"
    )
    got = list(iter_warc_records(rec + build_record("metadata", b"after")))
    assert [e for *_, e in got] == ["missing/invalid Content-Length"]
