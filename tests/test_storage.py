"""Storage-client tests: the exact-name write path over pyarrow.fs URIs and
the abort-on-error contract (reference: ``S3OutputStream.java:101-132`` aborts
the multipart upload on failure so no partial object is ever visible;
``S3OutputStreamTest`` pins that a failed stream leaves nothing behind)."""

import base64
import os

import pytest
from pyspark.sql import Row

from kafka_connector_s3_sink_spark.config import (
    CompressionType,
    EngineConfig,
    FormatType,
)
from kafka_connector_s3_sink_spark.records import KAFKA_RECORD_SCHEMA
from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage
from kafka_connector_s3_sink_spark.sinks.writer import write_batch


def b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def rows_two_objects():
    return [
        Row(topic="t", partition=p, offset=p * 100 + i, key=f"k{i}",
            value=f"v-{p}-{i}", timestamp=1000 + i, headers=None)
        for p in (0, 1) for i in range(3)
    ]


def test_object_storage_roundtrip_and_listing(tmp_path):
    st = ObjectStorage(str(tmp_path))
    st.write_bytes("a/b/obj.txt", b"hello")
    assert st.read_bytes("a/b/obj.txt") == b"hello"
    assert st.exists("a/b/obj.txt")
    assert not st.exists("a/b/missing")
    assert st.listing() == ["a/b/obj.txt"]


def test_object_storage_rejects_path_escape(tmp_path):
    st = ObjectStorage(str(tmp_path))
    with pytest.raises(ValueError, match="escapes"):
        st.full_path("../../etc/passwd")
    with pytest.raises(ValueError, match="escapes"):
        st.full_path("a/../../x")
    # absolute names are treated as prefix-relative, not absolute
    assert st.full_path("/sub/x").endswith("/sub/x")


def test_object_storage_abort_leaves_no_temp_or_object(tmp_path):
    st = ObjectStorage(str(tmp_path))
    with pytest.raises(RuntimeError):
        with st.open_output("obj.bin") as out:
            out.write(b"partial bytes")
            raise RuntimeError("boom")
    # no final object, no leftover temp file (hidden or otherwise)
    assert os.listdir(tmp_path) == []


def test_full_path_never_escapes_fuzz(tmp_path):
    """Property: for ANY object name, full_path either raises or stays under
    the sink root — template-derived names can embed arbitrary record data
    ({{key}}), so this is the actual security boundary, fuzzed."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    st_name = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=60
    )
    base = str(tmp_path)
    storage = ObjectStorage(base)
    root = storage.full_path("probe").rsplit("/", 1)[0]

    @settings(max_examples=300, deadline=None)
    @given(st_name)
    def check(name):
        try:
            p = storage.full_path(name)
        except ValueError:
            return
        assert p.startswith(root + "/") and ".." not in p.split("/")

    check()


def test_object_storage_direct_mode_abort_deletes(tmp_path):
    """direct commit mode (the s3://-scheme default, exercised here over the
    local fs): no temp object ever exists, and an aborted write deletes
    whatever the failed stream materialized at the final name."""
    st = ObjectStorage(str(tmp_path), mode="direct")
    st.write_bytes("ok.bin", b"fine")
    assert (tmp_path / "ok.bin").read_bytes() == b"fine"
    with pytest.raises(RuntimeError):
        with st.open_output("bad.bin") as out:
            out.write(b"partial")
            raise RuntimeError("boom")
    assert sorted(os.listdir(tmp_path)) == ["ok.bin"]


def test_object_storage_mode_defaults_by_scheme():
    assert ObjectStorage("/x/y").mode == "rename"
    assert ObjectStorage("file:///x/y").mode == "rename"
    assert ObjectStorage("hdfs://nn/x").mode == "rename"
    assert ObjectStorage("s3://bucket/pre").mode == "direct"
    assert ObjectStorage("gs://bucket/pre").mode == "direct"
    with pytest.raises(ValueError, match="commit mode"):
        ObjectStorage("/x", mode="yolo")


@pytest.mark.parametrize(
    "uri, resolved",
    [
        ("s3a://bucket/prefix", "s3://bucket/prefix"),
        ("S3N://bucket/prefix", "s3://bucket/prefix"),
        ("s3://bucket/prefix", "s3://bucket/prefix"),
        ("gs://bucket/prefix", "gs://bucket/prefix"),
    ],
)
def test_hadoop_s3_schemes_resolve_as_s3(monkeypatch, uri, resolved):
    """pyarrow.fs knows S3 only as ``s3``; the Hadoop spellings the docs use
    (``s3a://``, ``s3n://``) must reach it as ``s3://`` or the first object
    write raises ``Unrecognized filesystem type``. The resolver is stubbed,
    so no S3 client (and no region lookup) is created."""
    import pyarrow.fs as pafs

    seen = []

    class StubFileSystem:
        @staticmethod
        def from_uri(u):
            seen.append(u)
            return pafs.LocalFileSystem(), "/bucket/prefix"

    monkeypatch.setattr(pafs, "FileSystem", StubFileSystem)
    storage = ObjectStorage(uri)
    assert storage.full_path("a/b.csv") == "/bucket/prefix/a/b.csv"
    assert seen == [resolved]
    assert storage.mode == "direct"


def test_write_batch_accepts_file_uri(spark, tmp_path):
    """The golden-name path through an explicit file:// URI — the same route an
    s3:// deployment takes, resolved by pyarrow.fs instead of plain open()."""
    cfg = EngineConfig(file_compression=CompressionType.NONE)
    written = write_batch(
        records_df(spark), cfg, "file://" + str(tmp_path)
    )
    assert [w[0] for w in written] == ["t-0-0", "t-1-100"]
    assert (tmp_path / "t-0-0").read_text().splitlines() == [
        b64("v-0-0"), b64("v-0-1"), b64("v-0-2"),
    ]


def records_df(spark):
    return spark.createDataFrame(rows_two_objects(), KAFKA_RECORD_SCHEMA)


def FailOnObject(name):
    """Fault hook: raise when committing the named object. A closure so
    cloudpickle ships it by value (test modules aren't importable on
    executors)."""

    def fault(object_name):
        if object_name == name:
            raise RuntimeError(f"injected failure on {object_name}")

    return fault


@pytest.mark.parametrize("fmt,mode", [
    pytest.param(fmt, mode, id=fmt.value if mode == "rename" else f"{fmt.value}-{mode}")
    for mode in ("rename", "direct")
    for fmt in (FormatType.CSV, FormatType.JSON, FormatType.PARQUET,
                FormatType.AVRO, FormatType.ORC)
])
def test_failed_write_leaves_no_partial_object(spark, tmp_path, fmt, mode):
    """Kill the writer mid-batch, for every encoder in both commit modes: the
    failing object must not exist under its final name (abort contract), and
    no hidden temp may linger."""
    cfg = EngineConfig(format_type=fmt, file_compression=CompressionType.GZIP
                       if fmt in (FormatType.CSV, FormatType.JSON)
                       else CompressionType.NONE)
    with pytest.raises(Exception, match="injected failure"):
        write_batch(records_df(spark), cfg, str(tmp_path),
                    storage=ObjectStorage(str(tmp_path), mode=mode),
                    fault=FailOnObject("t-1-100" + cfg.filename_extension))
    names = {f for f in os.listdir(tmp_path)}
    assert not any("t-1-100" in n for n in names), names
    assert not any(".inprogress-" in n for n in names), names


def test_retry_after_failure_converges_to_clean_run(spark, tmp_path, tmp_path_factory):
    """At-least-once: a failed batch re-run (task retry / job restart) must
    produce the byte-identical object set of a clean run — deterministic names
    + atomic commits (README.md:101-133)."""
    cfg = EngineConfig(file_compression=CompressionType.GZIP)
    df = records_df(spark)
    with pytest.raises(Exception, match="injected failure"):
        write_batch(df, cfg, str(tmp_path), fault=FailOnObject("t-0-0.gz"))
    # retry without the fault: same dest, converges
    written = write_batch(df, cfg, str(tmp_path))
    clean_dir = tmp_path_factory.mktemp("clean")
    clean = write_batch(df, cfg, str(clean_dir))
    assert written == clean
    for name, _ in clean:
        assert (tmp_path / name).read_bytes() == (clean_dir / name).read_bytes()


def test_sidecar_manifest_through_storage(spark, tmp_path):
    """Sidecar shards go through the same storage client (no shared-mount
    assumption) and name every object the batch wrote."""
    import json

    cfg = EngineConfig(file_compression=CompressionType.NONE)
    result = write_batch(records_df(spark), cfg, str(tmp_path), manifest="sidecar")
    assert result == []
    mdir = tmp_path / "_manifest"
    entries = []
    for shard in sorted(mdir.iterdir()):
        for line in shard.read_text().splitlines():
            entries.append(json.loads(line))
    assert sorted(e["object"] for e in entries) == ["t-0-0", "t-1-100"]
    assert all(e["records"] == 3 for e in entries)


def test_storage_is_byte_transparent_for_gz_names():
    """Regression: pyarrow's open_*_stream defaults to compression='detect'
    (extension-keyed), which would re-gzip direct-mode writes to '*.gz' names
    and auto-gunzip reads — rename mode masked it because temp names carry no
    extension. The client must be byte-transparent in BOTH modes: exactly the
    written bytes come back, whatever the name implies."""
    import gzip
    import tempfile

    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

    payload = gzip.compress(b"already compressed once", mtime=0)
    for mode in ("rename", "direct"):
        root = tempfile.mkdtemp(prefix=f"store-{mode}-")
        storage = ObjectStorage(root, mode=mode)
        storage.write_bytes("data.gz", payload)
        with open(f"{root}/data.gz", "rb") as f:
            on_disk = f.read()
        assert on_disk == payload, mode          # no second compression
        assert storage.read_bytes("data.gz") == payload, mode  # no auto-gunzip


def test_open_input_file_is_seekable_random_access():
    """r7 advice fix: `open_input_file` hands back a RANDOM-ACCESS handle —
    seek + partial read work without touching the rest of the object, which
    is what lets the parquet audit read O(footer bytes) per object. A
    pyarrow ParquetFile over the handle parses metadata from the tail."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

    root = tempfile.mkdtemp(prefix="store-seek-")
    storage = ObjectStorage(root)
    payload = b"A" * 10_000 + b"TAILMARK"
    storage.write_bytes("blob.bin", payload)
    with storage.open_input_file("blob.bin") as f:
        assert f.size() == len(payload)
        f.seek(len(payload) - 8)
        assert f.read(8) == b"TAILMARK"   # ranged read off a seek
        f.seek(0)
        assert f.read(4) == b"AAAA"

    # and the audit's actual consumer: footer-directed parquet metadata
    import io
    buf = io.BytesIO()
    pq.write_table(pa.table({"x": list(range(100))}), buf)
    storage.write_bytes("t.parquet", buf.getvalue())
    with storage.open_input_file("t.parquet") as f:
        assert pq.ParquetFile(f).metadata.num_rows == 100
