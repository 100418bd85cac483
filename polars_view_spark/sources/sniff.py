"""CSV delimiter sniffing.

Reproduces the reference's probe loop (reference:
src/data_filter.rs:392-466 and 484-531): try the configured delimiter first,
then the candidates ``, ; | \\t :`` (deduplicated, preserving order); for
each candidate parse at most ``ROW_LIMIT`` (100) data rows; the first
candidate producing **more than one column** wins and is written back into
the config.

Spark-first note: the probe is a deliberate *driver-side* step over the file
head — at 100 TB you never want a cluster job per candidate delimiter just
to guess structure.  Only the winning delimiter triggers the distributed
read.  The probe reads a bounded byte window, so its cost is O(1) in file
size.
"""

from __future__ import annotations

import csv as _csv
import io
import re

ROW_LIMIT = 100  # reference: src/data_filter.rs:492
CANDIDATE_DELIMITERS = (",", ";", "|", "\t", ":")
_PROBE_BYTES = 1 << 20  # 1 MiB head window comfortably covers 100 rows

# Anything with a URI scheme (s3://, hdfs://, abfss://, file://…) or the
# dbfs:/ form is not readable with builtin open() on the driver.
_REMOTE_URI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def is_remote_path(path: str) -> bool:
    return bool(_REMOTE_URI.match(path)) or path.startswith("dbfs:/")


def probe_head_lines(path: str, spark=None, max_lines: int = ROW_LIMIT + 1) -> list[str]:
    """Bounded head sample of ``path`` as text lines.

    Local paths: one driver-side 1 MiB read (O(1) in file size).  Remote
    URIs (s3://, hdfs://, dbfs:/…): a ``spark.read.text().limit(n)`` probe —
    a CollectLimit over the first split, never a full scan, and no builtin
    ``open()`` that would crash on a non-driver-local filesystem.  Returns
    ``[]`` when no probe is possible (remote path, no session) — callers
    fall back to configured defaults.
    """
    if not is_remote_path(path):
        head = _read_head_bytes(path)
        text = head.decode("utf-8", errors="replace")
        lines = text.splitlines()
        if len(head) == _PROBE_BYTES and lines:
            lines.pop()  # the window may have cut the last line mid-row
        return lines[:max_lines]
    if spark is not None:
        # spark.read.text decompresses .gz/.bz2 transparently (Hadoop codec)
        return [r[0] for r in spark.read.text(path).limit(max_lines).collect()]
    return []


def _read_head_bytes(path: str) -> bytes:
    """Bounded head read, decompressing one trailing .gz/.bz2 suffix.

    Both stdlib decompressors stream: ``read(n)`` pulls only the compressed
    bytes needed for ``n`` decompressed bytes, so the probe stays O(1) in
    file size for compressed inputs too.

    A mislabeled or truncated archive (a plain-text file named ``.gz``, a
    half-uploaded stream — routine in landing dirs) must DEGRADE like every
    other unprobeable input, not crash the read before Spark's PERMISSIVE
    scan even runs: decompressor errors return empty bytes, and the caller
    falls back to the configured delimiter/schema defaults."""
    lower = path.lower()
    if lower.endswith(".gz"):
        import gzip

        try:
            with gzip.open(path, "rb") as fh:
                return fh.read(_PROBE_BYTES)
        except (OSError, EOFError):  # BadGzipFile is an OSError
            return b""
    if lower.endswith(".bz2"):
        import bz2

        try:
            with bz2.open(path, "rb") as fh:
                return fh.read(_PROBE_BYTES)
        except (OSError, EOFError):
            return b""
    with open(path, "rb") as fh:
        return fh.read(_PROBE_BYTES)


def _column_count(text: str, delimiter: str) -> int:
    """Parse up to ROW_LIMIT rows with the csv module; return the minimum
    consistent column count (0 when rows disagree wildly or parsing fails)."""
    try:
        reader = _csv.reader(io.StringIO(text), delimiter=delimiter)
        widths: list[int] = []
        for i, row in enumerate(reader):
            if i > ROW_LIMIT:
                break
            if row:
                widths.append(len(row))
        if not widths:
            return 0
        # Header must agree with the probed data rows, mirroring the
        # reference's width check (src/data_filter.rs:507-522).
        return widths[0] if all(w == widths[0] for w in widths) else 0
    except _csv.Error:
        return 0


def sniff_delimiter(path: str, configured: str | None = None, spark=None) -> str:
    """Return the winning delimiter for ``path``.

    Candidate order: configured first, then ``, ; | \\t :`` deduplicated.
    A candidate wins when the 100-row probe yields a consistent width of
    more than one column.  Falls back to the configured delimiter (or ``,``)
    when nothing wins — single-column files are legal.
    """
    return sniff_delimiter_from_lines(probe_head_lines(path, spark), configured)


def sniff_delimiter_from_lines(lines: list[str], configured: str | None = None) -> str:
    """Delimiter probe over an already-fetched head sample."""
    head = "\n".join(lines)
    candidates: list[str] = []
    for d in ((configured,) if configured else ()) + CANDIDATE_DELIMITERS:
        if d and d not in candidates:
            candidates.append(d)
    for d in candidates:
        if _column_count(head, d) > 1:
            return d
    return configured or ","
