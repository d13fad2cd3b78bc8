"""Pluggable object-storage client for the exact-name write path.

The reference's core competency is streaming object writes with abort-on-error:
``S3OutputStream.java:37-168`` streams 5 MiB multipart chunks and ABORTS the
multipart upload on any failure, so a crashed task never leaves a partial
object visible. This module gives the Spark engine the same contract over any
filesystem ``pyarrow.fs`` can resolve — ``file:``, ``s3://``, ``gs://``,
``hdfs://`` — WITHOUT the JVM, because the object-write loop that needs it runs
inside Python executor tasks where no py4j gateway exists (the driver-side
Hadoop client in ``operators/packing.list_files`` cannot be reached from a
task).

Commit discipline per scheme:

- ``rename`` (local / HDFS / anything with atomic rename): stream into a
  hidden temp object ``dir/.name.inprogress-<uuid>``, then move to the final
  name on success; delete the temp on error. A reader never observes a
  partial object under the final name, and hidden-prefix temps are excluded
  by parquet scans and by ``packing.list_files``.
- ``direct`` (S3/GCS-style object stores): stream straight to the final name.
  An object-store PUT / completed multipart upload is already atomic — the
  object materializes only when the stream closes successfully — and the
  temp+rename dance would cost a full extra server-side copy
  (object stores have no rename). On error the stream is closed without
  completing, mirroring the reference's ``abort()``
  (``S3OutputStream.java:101-132``).

The default mode is chosen from the URI scheme; callers can force either.

Idempotence interplay: object names are deterministic functions of
(topic, partition, start_offset), so a Spark task retry or speculative
duplicate re-creates byte-identical objects; last-writer-wins overwrite at the
final name is therefore safe in both modes (``README.md:101-133``).
"""

from __future__ import annotations

import posixpath
import uuid
from contextlib import contextmanager

# Schemes where a PUT is atomic and rename is a server-side copy.
_DIRECT_SCHEMES = {"s3", "s3a", "s3n", "gs", "gcs"}
# Hadoop's S3 connector spellings; pyarrow.fs resolves the store only as s3
_PYARROW_SCHEMES = {"s3a": "s3", "s3n": "s3"}


def _split_uri(uri: str) -> tuple[str | None, str]:
    """(scheme, rest) — a Windows drive letter or a plain path has no scheme.
    Schemes are letter-led alphanumerics ("s3", "s3a", "gs" carry digits, so
    a bare isalpha() check would misroute them to the local filesystem)."""
    if ":" in uri:
        head, _, rest = uri.partition(":")
        if len(head) > 1 and head[0].isalpha() and head.isalnum():
            return head.lower(), rest
    return None, uri


class ObjectStorage:
    """Exact-name object I/O over a ``pyarrow.fs`` filesystem, picklable so
    Spark tasks can carry it into ``mapPartitions`` (only the base URI and
    mode are shipped; the filesystem handle is resolved lazily per process).
    """

    def __init__(self, base_uri: str, mode: str | None = None):
        scheme, _ = _split_uri(base_uri)
        if mode is None:
            mode = "direct" if scheme in _DIRECT_SCHEMES else "rename"
        if mode not in ("rename", "direct"):
            raise ValueError(f"unknown commit mode {mode!r}")
        self.base_uri = base_uri
        self.mode = mode
        self._fs = None
        self._base = None

    # -- lazy, per-process filesystem resolution (keeps the object picklable) --

    def __getstate__(self):
        return {"base_uri": self.base_uri, "mode": self.mode}

    def __setstate__(self, state):
        self.base_uri = state["base_uri"]
        self.mode = state["mode"]
        self._fs = None
        self._base = None

    def _resolve(self):
        if self._fs is None:
            import pyarrow.fs as pafs

            scheme, rest = _split_uri(self.base_uri)
            if scheme is None:
                import os

                self._fs = pafs.LocalFileSystem()
                self._base = os.path.abspath(self.base_uri)
            else:
                uri = self.base_uri
                if scheme in _PYARROW_SCHEMES:
                    uri = f"{_PYARROW_SCHEMES[scheme]}:{rest}"
                self._fs, self._base = pafs.FileSystem.from_uri(uri)
        return self._fs, self._base

    # -- path handling --

    def full_path(self, name: str) -> str:
        """Join an object name under the base path, refusing path escapes.

        Object names can embed record data ({{key}} templates), so a hostile
        key like ``../../x`` must not traverse outside the sink root. "/"
        separators are allowed (S3-prefix-style subdirectories); ``..``
        segments and absolute names are not. pyarrow paths are always
        "/"-separated regardless of host OS.
        """
        _, base = self._resolve()
        base = base.rstrip("/")
        path = posixpath.normpath(posixpath.join(base, name.lstrip("/")))
        if not path.startswith(base + "/"):
            raise ValueError(f"object name {name!r} escapes the sink directory")
        return path

    # -- I/O --

    @contextmanager
    def open_output(self, name: str):
        """Yield a writable binary stream for object ``name``.

        On clean exit the object is committed under its final name; on
        exception nothing is visible at the final name (rename mode deletes
        the temp; direct mode closes without completing the upload, then
        best-effort deletes)."""
        fs, _ = self._resolve()
        final = self.full_path(name)
        parent = posixpath.dirname(final)
        if parent:
            fs.create_dir(parent, recursive=True)
        # compression=None everywhere: pyarrow's default 'detect' keys on the
        # FILE EXTENSION, which would gzip direct-mode writes to '*.gz' names
        # a second time (the payload is already codec-compressed) while
        # leaving rename-mode untouched (temp names carry no extension) —
        # an asymmetry that corrupts object stores only. Byte-transparent I/O
        # is this client's contract; codecs live in formats/compression.
        if self.mode == "rename":
            tmp = posixpath.join(
                parent, f".{posixpath.basename(final)}.inprogress-{uuid.uuid4().hex}"
            )
            stream = fs.open_output_stream(tmp, compression=None)
            try:
                yield stream
            except BaseException:
                stream.close()
                try:
                    fs.delete_file(tmp)
                except FileNotFoundError:
                    pass
                raise
            stream.close()
            fs.move(tmp, final)
        else:
            stream = fs.open_output_stream(final, compression=None)
            try:
                yield stream
            except BaseException:
                stream.close()
                try:  # PUT may already have completed for tiny objects
                    fs.delete_file(final)
                except FileNotFoundError:
                    pass
                raise
            stream.close()

    def write_bytes(self, name: str, data: bytes) -> None:
        with self.open_output(name) as out:
            out.write(data)

    def read_bytes(self, name: str) -> bytes:
        with self.open_input(name) as f:
            return f.read()

    def open_input(self, name: str):
        """Readable binary stream for object ``name`` (caller closes) —
        the chunked-read path for consumers that must not hold a whole
        object (streaming WARC decode)."""
        fs, _ = self._resolve()
        return fs.open_input_stream(self.full_path(name), compression=None)

    def open_input_file(self, name: str):
        """RANDOM-ACCESS readable file for object ``name`` (caller closes) —
        seekable, so footer-directed consumers (parquet metadata validation)
        read O(footer bytes), not the whole object. On object stores this is
        ranged GETs under the hood (pyarrow.fs maps seek+read to ranges)."""
        fs, _ = self._resolve()
        return fs.open_input_file(self.full_path(name))

    def exists(self, name: str) -> bool:
        import pyarrow.fs as pafs

        fs, _ = self._resolve()
        return fs.get_file_info(self.full_path(name)).type != pafs.FileType.NotFound

    def listing(self) -> list[str]:
        """Recursive object listing relative to the base (hidden files
        excluded) — test/verification helper, driver-side O(n_files)."""
        import pyarrow.fs as pafs

        fs, base = self._resolve()
        sel = pafs.FileSelector(base, recursive=True, allow_not_found=True)
        out = []
        for info in fs.get_file_info(sel):
            if info.type == pafs.FileType.File:
                rel = posixpath.relpath(info.path, base)
                # Spark's hidden-path rule: any "."/"_"-led path COMPONENT
                # hides the object, not just the basename — a sidecar
                # manifest shard "_manifest/part-00000.jsonl" must not be
                # served as data to sink_objects partition planning.
                if not any(seg.startswith((".", "_")) for seg in rel.split("/")):
                    out.append(rel)
        return sorted(out)
