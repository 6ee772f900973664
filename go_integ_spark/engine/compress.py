"""Output compression for protocol NDJSON (reference K5: the server
wraps the response writer in zstd when the client sends an
``Accept-Zstd`` header, proto.go:196-204).

zstd has no stdlib codec on this Python, so the codec is pyarrow's
bundled libzstd (streaming CompressedOutput/InputStream — standard
zstd frames, wire-compatible with the reference's client). gzip
remains available as the stdlib codec. Spark-side parquet/json writers take
``.option("compression", "zstd")`` natively — this module only covers
the driver-side NDJSON pipe.
"""

from __future__ import annotations

import gzip
import io
from typing import IO

CODECS = ("none", "gzip", "zstd")


class _NonClosingWriter(io.RawIOBase):
    """pyarrow's PythonFile closes its target on close; protocol sinks
    (stdout, a response buffer the caller still reads) must survive."""

    def __init__(self, raw: IO[bytes]):
        self._raw = raw

    def write(self, b) -> int:
        return self._raw.write(b)

    def writable(self) -> bool:
        return True

    def flush(self) -> None:
        self._raw.flush()


class _NonClosingReader(io.RawIOBase):
    def __init__(self, raw: IO[bytes]):
        self._raw = raw

    def readinto(self, b) -> int:
        data = self._raw.read(len(b))
        b[: len(data)] = data
        return len(data)

    def readable(self) -> bool:
        return True


def _zstd_writer(raw: IO[bytes]) -> IO[str]:
    import pyarrow as pa  # noqa: PLC0415 - only zstd output needs it

    stream = pa.CompressedOutputStream(
        pa.PythonFile(_NonClosingWriter(raw), mode="w"), "zstd"
    )
    return io.TextIOWrapper(stream, encoding="utf-8")


def _zstd_reader(raw: IO[bytes]) -> IO[str]:
    import pyarrow as pa  # noqa: PLC0415 - only zstd input needs it

    stream = pa.CompressedInputStream(
        pa.PythonFile(_NonClosingReader(raw), mode="r"), "zstd"
    )
    return io.TextIOWrapper(stream, encoding="utf-8")


def wrap_output(raw: IO[bytes], compression: str = "none") -> IO[str]:
    """Wrap a binary sink in the requested codec, returning a text
    stream for the NDJSON encoders. Caller closes the returned stream
    (which flushes/closes the codec, not the underlying sink)."""
    if compression in (None, "none"):
        w = io.TextIOWrapper(raw, encoding="utf-8", write_through=True)
        # closing the wrapper must not close the caller's sink (stdout
        # or a BytesIO the caller still reads) — mirror the codec
        # wrappers, which flush but leave the fileobj open.
        w.close = lambda _w=w: (_w.flush(), _w.detach())  # type: ignore[method-assign]
        return w
    if compression == "gzip":
        return io.TextIOWrapper(
            gzip.GzipFile(fileobj=raw, mode="wb", mtime=0), encoding="utf-8"
        )
    if compression == "zstd":
        return _zstd_writer(raw)
    raise ValueError(f"unknown compression {compression!r}; expected {CODECS}")


def read_compressed(raw: IO[bytes], compression: str = "none") -> IO[str]:
    """Inverse of wrap_output, for tests and round-trips."""
    if compression in (None, "none"):
        return io.TextIOWrapper(raw, encoding="utf-8")
    if compression == "gzip":
        return io.TextIOWrapper(gzip.GzipFile(fileobj=raw, mode="rb"), encoding="utf-8")
    if compression == "zstd":
        return _zstd_reader(raw)
    raise ValueError(f"unknown compression {compression!r}; expected {CODECS}")
