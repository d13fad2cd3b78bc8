"""Stream compression for written objects (gzip / snappy / zstd / none).

The reference wraps its S3 output stream in a compressor
(``S3SinkConfig.java:802-813``; extensions ``S3SinkTask.java:204``). Here the
text-format writer streams through the same codecs. gzip comes from the
stdlib; zstd/snappy use pyarrow's codecs.
"""

from __future__ import annotations

import gzip
import io
from typing import BinaryIO

import pyarrow as pa

from kafka_connector_s3_sink_spark.config import CompressionType


def compress_bytes(data: bytes, compression: CompressionType) -> bytes:
    if compression is CompressionType.NONE:
        return data
    if compression is CompressionType.GZIP:
        # mtime=0 → deterministic bytes for golden tests
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(data)
        return buf.getvalue()
    return pa.Codec(compression.value).compress(data, asbytes=True)


def _snappy_uvarint(data: bytes) -> int:
    """Raw snappy blocks lead with a uvarint of the decompressed size."""
    x = shift = 0
    for byte in data:
        x |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return x
        shift += 7
    raise ValueError("truncated snappy header")


def decompress_bytes(data: bytes, compression: CompressionType) -> bytes:
    if compression is CompressionType.NONE:
        return data
    if compression is CompressionType.GZIP:
        return gzip.decompress(data)
    if compression is CompressionType.ZSTD:
        return pa.CompressedInputStream(pa.BufferReader(data), "zstd").read()
    return pa.Codec(compression.value).decompress(
        data, decompressed_size=_snappy_uvarint(data), asbytes=True
    )


class _CompressedWriter:
    """Compressing writer over a raw object stream; ``close`` flushes the
    codec's tail into the sink.

    gzip (GzipFile) and zstd (``pa.CompressedOutputStream``) stream, so
    memory is the codec's own buffer. snappy has no streaming framing in
    pyarrow: it holds the WHOLE object in a ``BytesIO`` and compresses it as
    one raw block on ``close``, so its memory is O(object) —
    ``file.max.records`` bounds it.
    """

    def __init__(self, sink: BinaryIO, compression: CompressionType):
        self._sink = sink
        self._compression = compression
        if compression is CompressionType.GZIP:
            self._stream: BinaryIO = gzip.GzipFile(fileobj=sink, mode="wb", mtime=0)
            self._buffer = None
        elif compression is CompressionType.NONE:
            self._stream = sink
            self._buffer = None
        elif compression is CompressionType.ZSTD:
            self._stream = pa.CompressedOutputStream(sink, "zstd")
            self._buffer = None
        else:
            # snappy has no streaming framing in pyarrow → bounded block buffer
            self._stream = None  # type: ignore[assignment]
            self._buffer = io.BytesIO()

    def write(self, data: bytes) -> None:
        if self._buffer is not None:
            self._buffer.write(data)
        else:
            self._stream.write(data)

    def close(self) -> None:
        if self._buffer is not None:
            self._sink.write(compress_bytes(self._buffer.getvalue(), self._compression))
        elif self._stream is not self._sink:
            self._stream.close()


def open_compressed(sink: BinaryIO, compression: CompressionType) -> _CompressedWriter:
    return _CompressedWriter(sink, compression)


def read_compressed(path: str, compression: CompressionType) -> bytes:
    with open(path, "rb") as f:
        return decompress_bytes(f.read(), compression)
