"""WARC source: read Common-Crawl-style WARC archives into the pages table.

The crawl-ingest leg in front of the extraction pipeline: real WARC/1.0
parsing (ISO 28500, a public format) with both storage conventions —
plain ``.warc`` and ``.warc.gz`` where EACH RECORD is its own gzip member
(the Common Crawl convention; stdlib zlib handles member concatenation).

Scale shape: ``read_warcs`` lists files with Spark's binaryFile source —
one task per WARC file, the unit Common Crawl shards at (~1 GB gz) — and
parses records inside an Arrow-batched ``mapInPandas`` kernel, emitting
PAGES_SCHEMA rows (url, warc_ts, html BYTES, text=NULL, lang=NULL). Byte
payloads stay raw: charset detection/decoding already lives in the
extraction kernel (kernel.py BOM/meta sniff + re-decode retry), so the
WARC leg composes with dedup/extract unchanged. A 100 TB crawl is ~10^5
files → 10^5 parallel tasks, no shuffle until the dedup window.

``build_warc`` is the deterministic fixture generator (pages.py's role
for the WARC leg) so parsing is testable byte-for-byte with no network.
"""

from __future__ import annotations

import gzip
import io
import zlib
from datetime import datetime, timezone
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    StringType, StructField, StructType, TimestampType,
)

from .batches import row_kernel
from .schema import PAGES_SCHEMA

__all__ = ["build_warc", "iter_warc_records", "parse_warc_pages",
           "read_warcs", "read_warcs_split", "iter_warc_records_range",
           "read_cdxj", "parse_cdxj_lines", "cdxj_line", "CDXJ_FIELDS",
           "read_warc_records_by_index", "wet_record_col",
           "parse_wet_pages", "read_wets", "write_wet",
           "warc_response_record_col", "write_warc"]


def build_warc(records: list[dict], *, compress: bool = False,
               warcinfo: bool = True) -> bytes:
    """Deterministic WARC/1.0 bytes. Each record dict: ``url``, ``date``
    (ISO-8601 Z string), ``body`` (bytes — the HTML), optional ``status``
    (default 200), ``content_type`` (default text/html), ``kind``
    (default 'response'; 'request'/'metadata' records are built too so
    parsers must skip them). ``compress=True`` gzips each record as its
    own member (the .warc.gz convention)."""
    out = []

    def record(headers: list[tuple[str, str]], block: bytes) -> bytes:
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode() for k, v in headers
            ) + f"Content-Length: {len(block)}\r\n".encode() + b"\r\n"
        raw = head + block + b"\r\n\r\n"
        return gzip.compress(raw, mtime=0) if compress else raw

    if warcinfo:
        block = b"software: fortissimo-spark-fixture\r\n"
        out.append(record([("WARC-Type", "warcinfo"),
                           ("WARC-Record-ID", "<urn:uuid:00000000-0000-0000-0000-000000000000>"),
                           ("WARC-Date", "2024-01-01T00:00:00Z"),
                           ("Content-Type", "application/warc-fields")], block))
    for i, r in enumerate(records):
        kind = r.get("kind", "response")
        if kind == "response":
            status = r.get("status", 200)
            ctype = r.get("content_type", "text/html; charset=utf-8")
            http = (f"HTTP/1.1 {status} OK\r\n"
                    f"Content-Type: {ctype}\r\n"
                    f"Content-Length: {len(r['body'])}\r\n\r\n").encode() \
                + r["body"]
            headers = [("WARC-Type", "response"),
                       ("WARC-Record-ID", f"<urn:uuid:{i:032x}>"),
                       ("WARC-Date", r["date"]),
                       ("WARC-Target-URI", r["url"]),
                       ("Content-Type", "application/http; msgtype=response")]
            out.append(record(headers, http))
        else:
            headers = [("WARC-Type", kind),
                       ("WARC-Record-ID", f"<urn:uuid:{i:032x}>"),
                       ("WARC-Date", r["date"]),
                       ("WARC-Target-URI", r["url"]),
                       ("Content-Type", "application/http; msgtype=request")]
            out.append(record(headers, r.get("body", b"GET / HTTP/1.1\r\n\r\n")))
    return b"".join(out)


def _gunzip_members(payload: bytes) -> bytes:
    """Concatenated-gzip-member decompression (one WARC record per member).

    The remaining tail is advanced through a ``memoryview`` — slicing the
    raw bytes would COPY the remainder once per member, and a ~1 GB
    Common-Crawl shard with ~100k record-members would do O(N·M) bytes of
    memcpy (tens of TB) before any parsing happened."""
    view = memoryview(payload)
    out = []
    while len(view):
        d = zlib.decompressobj(wbits=31)
        out.append(d.decompress(view))
        rest = d.unused_data
        if not rest:
            break
        view = view[len(view) - len(rest):]
    return b"".join(out)


def iter_warc_records(payload: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (warc_headers, block_bytes) for every record in a WARC file
    (plain or per-record-gzipped)."""
    if payload[:2] == b"\x1f\x8b":
        payload = _gunzip_members(payload)
    i = 0
    n = len(payload)
    while i < n:
        # skip inter-record blank lines
        while i < n and payload[i:i + 2] in (b"\r\n",) :
            i += 2
        if i >= n or not payload.startswith(b"WARC/", i):
            break
        # record-framing tolerance: a record whose header block never
        # terminates (`index` ValueError) or carries a non-numeric
        # Content-Length (`int` ValueError) must not discard the records
        # already yielded from this archive — resync at the next record
        # marker instead of letting the exception escape the generator.
        try:
            head_end = payload.index(b"\r\n\r\n", i)
            head_lines = payload[i:head_end].decode("latin-1").split("\r\n")
            headers = {}
            for line in head_lines[1:]:
                k, _, v = line.partition(":")
                headers[k.strip().lower()] = v.strip()
            length = int(headers.get("content-length", "0"))
        except ValueError:
            nxt = payload.find(b"\r\nWARC/", i + 5)
            if nxt < 0:
                return
            i = nxt + 2
            continue
        block_start = head_end + 4
        yield headers, payload[block_start:block_start + length]
        i = block_start + length


def _split_http_response(block: bytes) -> tuple[int, dict, bytes]:
    """(status, http_headers, body) from an application/http response block."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        return 0, {}, b""
    head = block[:sep].decode("latin-1", errors="replace").split("\r\n")
    parts = head[0].split(" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = 0
    headers = {}
    for line in head[1:]:
        k, _, v = line.partition(":")
        headers[k.strip().lower()] = v.strip()
    return status, headers, block[sep + 4:]


def _page_from_record(headers: dict, block: bytes) -> dict | None:
    """PAGES_SCHEMA dict for a 2xx HTML response record, else None.
    Raises on malformed fields (bad date, mangled HTTP head) — callers
    wrap per record so one bad record never discards its neighbors."""
    if headers.get("warc-type") != "response":
        return None
    url = headers.get("warc-target-uri")
    date = headers.get("warc-date")
    if not url or not date:
        return None
    status, http_headers, body = _split_http_response(block)
    if not (200 <= status < 300):
        return None
    ctype = http_headers.get("content-type", "")
    if "html" not in ctype:
        return None
    ts = _parse_warc_date(date)
    return {"url": url, "warc_ts": ts, "html": bytearray(body),
            "text": None, "lang": None}


def parse_warc_pages(payload: bytes) -> list[dict]:
    """Extract page rows from one WARC file's bytes: response records with
    an HTML content type and a 2xx status. Returns dicts matching
    PAGES_SCHEMA column names (html = raw bytes — charset decoding is the
    extraction kernel's job, which re-sniffs BOM/meta and retries)."""
    pages = []
    for headers, block in iter_warc_records(payload):
        # record-level tolerance: one malformed record (bad date, mangled
        # HTTP head) must not discard the archive's other records
        try:
            page = _page_from_record(headers, block)
        except Exception:  # noqa: BLE001 - skip the record, keep the file
            continue
        if page is not None:
            pages.append(page)
    return pages


def _parse_warc_date(date: str) -> datetime:
    """WARC-Date per WARC 1.0 (second precision) AND 1.1 (arbitrary
    fractional seconds, as wget/warcio emit)."""
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return (datetime.strptime(date, fmt)
                    .replace(tzinfo=timezone.utc).replace(tzinfo=None))
        except ValueError:
            continue
    raise ValueError(f"unparseable WARC-Date: {date!r}")


def _warc_pages(content) -> list[tuple]:
    """PAGES_SCHEMA rows of one archive.  A corrupt archive (truncated
    gzip member, mangled headers) yields none: skip the file, keep the
    task and the fleet moving."""
    try:
        pages = parse_warc_pages(bytes(content))
    except Exception:  # noqa: BLE001 - malformed crawl shard
        return []
    return [tuple(p[k] for k in PAGES_SCHEMA.fieldNames()) for p in pages]


def read_warcs(spark: SparkSession, path_glob: str) -> DataFrame:
    """pages DataFrame (PAGES_SCHEMA) from a directory/glob of .warc /
    .warc.gz files. One task per file (the Common-Crawl sharding unit);
    everything downstream (dedup window, extract kernel, production
    writer) composes unchanged."""
    files = (spark.read.format("binaryFile").load(path_glob)
             .select("content"))
    return files.mapInPandas(
        row_kernel(PAGES_SCHEMA, _warc_pages, ("content",)), PAGES_SCHEMA)


# --- split ingest for oversized archives --------------------------------
# ``read_warcs`` loads each archive as ONE binaryFile row — right for the
# ~1 GB Common-Crawl shard, but a pathological archive hits Spark's 2 GB
# single-row limit and spikes one task's memory. ``read_warcs_split``
# plans byte-range splits per file (the Hadoop text-split recipe: a task
# aligns its start to the next RECORD boundary and consumes every record
# that STARTS inside its range, reading past the range end to finish the
# last one). Memory bound per task = split size + the largest single
# record, independent of archive size.

class _RangeReader:
    """Buffered forward reader over one byte range of a file object,
    tracking absolute offsets. ``ensure`` grows the buffer past the range
    end when a record spans the boundary."""

    def __init__(self, f, start: int, chunk: int = 4 << 20):
        self._f = f
        self._f.seek(start)
        self.base = start          # absolute offset of buf[0]
        self.buf = b""
        self.eof = False
        self._chunk = chunk

    def ensure(self, n: int) -> bool:
        """True once the buffer holds >= n bytes (reads more as needed)."""
        while len(self.buf) < n and not self.eof:
            piece = self._f.read(max(self._chunk, n - len(self.buf)))
            if not piece:
                self.eof = True
                break
            self.buf += piece
        return len(self.buf) >= n

    def advance(self, n: int) -> None:
        self.buf = self.buf[n:]
        self.base += n


def _gzip_member_at(rr: _RangeReader, pos: int) -> bool:
    """True if buf[pos:] starts a REAL per-record-gzip WARC member (magic
    bytes alone can occur inside compressed data — verify by inflating a
    probe window and checking for the WARC/ record prefix)."""
    rr.ensure(pos + 512)
    window = rr.buf[pos:pos + 512]
    if window[:3] != b"\x1f\x8b\x08":
        return False
    try:
        probe = zlib.decompressobj(wbits=31).decompress(window)
    except zlib.error:
        return False
    return probe.startswith(b"WARC/")


_MAX_WARC_HEADER = 1 << 20


def _plain_record_at(rr: _RangeReader, pos: int) -> bool:
    """True if ``buf[pos:]`` starts a PARSEABLE plain WARC record: a
    ``WARC/<digits.digits>`` version line, a CRLFCRLF header terminator
    within ``_MAX_WARC_HEADER`` bytes, and a numeric Content-Length.
    Byte-range alignment must fully validate a candidate boundary — a
    crawled page body is untrusted and can contain the literal
    ``\\r\\nWARC/`` marker, which would otherwise false-sync a split
    into record content and emit garbage or duplicate rows."""
    if not rr.ensure(pos + 8) or rr.buf[pos:pos + 5] != b"WARC/":
        return False
    while True:
        he = rr.buf.find(b"\r\n\r\n", pos, pos + _MAX_WARC_HEADER)
        if he >= 0:
            break
        if len(rr.buf) >= pos + _MAX_WARC_HEADER or \
                not rr.ensure(len(rr.buf) + (1 << 16)):
            return False
    lines = rr.buf[pos:he].decode("latin-1", "replace").split("\r\n")
    version = lines[0][5:]
    if not version or len(version) > 8 or \
            not all(c.isdigit() or c == "." for c in version):
        return False
    for line in lines[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-length":
            return v.strip().isdigit()
    return False


def _resync_plain(rr: _RangeReader, skip: int) -> bool:
    """Advance ``rr`` past ``skip`` bytes to the next VALIDATED plain
    record start (marker scan + :func:`_plain_record_at`), for recovery
    after a mid-split framing failure. False at EOF."""
    pos = skip
    while True:
        rr.ensure(pos + (1 << 20))
        i = rr.buf.find(b"\r\nWARC/", pos)
        if i < 0:
            if rr.eof:
                return False
            pos = max(len(rr.buf) - 7 + 1, skip)
            rr.advance(pos)
            pos, skip = 0, 0
            continue
        if _plain_record_at(rr, i + 2):
            rr.advance(i + 2)
            return True
        pos = i + 2


class _MemberStream:
    """File-like view of the REST of one gzip member's decompressed bytes
    (already-inflated ``prefix`` chunks first, then continued inflation
    from ``rr``), stopping at the member's end so per-record ownership of
    any FOLLOWING members is preserved. ``consumed`` tracks compressed
    bytes taken from ``rr.buf`` so the caller can resume there."""

    def __init__(self, rr: _RangeReader, d, prefix: list[bytes],
                 consumed: int):
        self._rr = rr
        self._d = d
        self._pending = b"".join(prefix)
        self.consumed = consumed

    def seek(self, pos: int) -> None:
        if pos != 0:
            raise io.UnsupportedOperation("forward-only stream")

    def read(self, n: int) -> bytes:
        rr, d = self._rr, self._d
        while len(self._pending) < n and not d.eof:
            if not rr.ensure(self.consumed + 1) and \
                    self.consumed >= len(rr.buf):
                break
            piece = rr.buf[self.consumed:self.consumed + (1 << 20)]
            if not piece:
                break
            try:
                self._pending += d.decompress(piece)
            except zlib.error:
                break  # corrupt tail: surface what we have
            self.consumed += len(piece)
            if d.unused_data:
                self.consumed -= len(d.unused_data)
                break
        out, self._pending = self._pending[:n], self._pending[n:]
        return out


def iter_warc_records_range(f, start: int, end: int, *, compressed: bool,
                            max_member_bytes: int = 256 << 20,
                            ) -> Iterator[tuple[dict, bytes]]:
    """(headers, block) for every record whose START offset lies in
    [start, end), aligning past a mid-record ``start`` and reading beyond
    ``end`` to complete the final record. A gzip member inflating past
    ``max_member_bytes`` (a whole-file-gzip archive, spec-legal) switches
    to streaming parse of that member instead of materializing it."""
    if start >= end:
        return
    # Plain splits scan from start-1: a record is owned by the right split
    # iff it STARTS past the boundary (p = q+2 > start for a "\r\nWARC/"
    # marker at q), i.e. q >= start-1 — a cut inside the marker's CRLF
    # must not orphan the record between the two splits.
    rr = _RangeReader(f, start if (compressed or start == 0) else start - 1)
    # --- align to the first record boundary at/after start
    pos = 0
    if start > 0 or compressed:
        marker = b"\x1f\x8b" if compressed else b"\r\nWARC/"
        while True:
            rr.ensure(pos + (1 << 20))
            i = rr.buf.find(marker, pos)
            if i < 0:
                if rr.eof:
                    return
                pos = max(len(rr.buf) - len(marker) + 1, 0)
                if rr.base + pos >= end:
                    return
                rr.advance(pos)
                pos = 0
                continue
            # a candidate at/after the range end can't be owned by this
            # split — stop instead of scanning the rest of the file (a
            # whole-file-gzip archive has NO interior members, so without
            # this every split would read to EOF looking for one)
            if compressed and rr.base + i >= end:
                return
            if not compressed and rr.base + i + 2 > end:
                return
            if compressed and not _gzip_member_at(rr, i):
                pos = i + 1
                continue
            if not compressed and not _plain_record_at(rr, i + 2):
                # body bytes that merely LOOK like a record marker —
                # keep scanning (see _plain_record_at)
                pos = i + 2
                continue
            pos = i if compressed else i + 2
            break
        if start == 0 and compressed:
            pos = 0 if rr.buf[:3] == b"\x1f\x8b\x08" else pos
    rr.advance(pos)

    # Ownership convention per storage format (each record consumed by
    # EXACTLY one split): gzip members align on the magic AT OR AFTER a
    # split's start, so a split owns member starts in [start, end). Plain
    # records align on the "\r\nWARC/" marker whose CRLF precedes the
    # record, so a record starting exactly at a boundary is invisible to
    # the right split — the LEFT split owns record starts in [start, end]
    # inclusive (the right split's alignment then lands strictly past it).
    def _more() -> bool:
        if rr.base < end:
            return True
        return (not compressed and rr.base == end and rr.ensure(5)
                and rr.buf.startswith(b"WARC/"))

    max_member = max_member_bytes
    while _more():
        if compressed:
            d = zlib.decompressobj(wbits=31)
            out, out_len, consumed = [], 0, 0
            while True:
                if not rr.ensure(consumed + 1) and consumed >= len(rr.buf):
                    break
                piece = rr.buf[consumed:consumed + (1 << 20)]
                if not piece:
                    break
                try:
                    dec = d.decompress(piece)
                except zlib.error:
                    return  # corrupt member: stop this split gracefully
                out.append(dec)
                out_len += len(dec)
                consumed += len(piece)
                if d.unused_data:
                    consumed -= len(d.unused_data)
                    break
                if d.eof:
                    break
                if out_len > max_member:
                    # one gzip member larger than any sane record group —
                    # a spec-legal WHOLE-FILE-gzip archive (or a giant
                    # member). Don't materialize it: hand the member's
                    # remaining stream to the plain incremental parser,
                    # which buffers only one record at a time, keeping
                    # the documented memory bound (split + largest
                    # record) instead of inflating the archive in one go.
                    ms = _MemberStream(rr, d, out, consumed)
                    yield from iter_warc_records_range(
                        ms, 0, 1 << 62, compressed=False)
                    rr.advance(ms.consumed)
                    out, consumed = None, None
                    break
            if out is None:
                continue  # streamed member fully consumed above
            if not out and consumed == 0:
                return
            member = b"".join(out)
            rr.advance(consumed)
            yield from iter_warc_records(member)
        else:
            if not rr.ensure(5) or not rr.buf.startswith(b"WARC/"):
                # inter-record CRLFs
                if rr.ensure(2) and rr.buf[:2] == b"\r\n":
                    rr.advance(2)
                    continue
                return
            # grow until the header terminator is in the buffer
            while rr.buf.find(b"\r\n\r\n") < 0:
                if not rr.ensure(len(rr.buf) + (1 << 20)):
                    return
            head_end = rr.buf.find(b"\r\n\r\n")
            try:
                head_lines = rr.buf[:head_end].decode("latin-1").split("\r\n")
                headers = {}
                for line in head_lines[1:]:
                    k, _, v = line.partition(":")
                    headers[k.strip().lower()] = v.strip()
                length = int(headers.get("content-length", "0"))
            except ValueError:
                # framing failure mid-split (non-numeric Content-Length):
                # resync at the next VALIDATED record marker instead of
                # silently dropping the split's remaining records —
                # mirroring iter_warc_records' tolerance
                if not _resync_plain(rr, 5):
                    return
                continue
            total = head_end + 4 + length
            if not rr.ensure(total):
                return
            yield headers, rr.buf[head_end + 4:total]
            rr.advance(total)


def _open_for_range(path: str):
    """Seekable binary stream for a Spark file URI. Local paths use plain
    ``open``; other schemes go through pyarrow.fs (HDFS/S3 when the
    environment provides them)."""
    if path.startswith("file:"):
        local = path[len("file:"):]
        while local.startswith("//"):
            local = local[1:]
        return open(local, "rb")
    if "://" not in path:
        return open(path, "rb")
    from pyarrow import fs as pafs
    filesystem, rel = pafs.FileSystem.from_uri(path)
    return filesystem.open_input_file(rel)


# Output-memory bound for the fetch/split kernels: input rows are tiny
# (paths/offsets) but output rows are full pages, so accumulating one
# whole input batch can hold maxRecordsPerBatch x page-size at once.
# Kernels flush a frame whenever EITHER cap is hit.
_FLUSH_ROWS = 2048
_FLUSH_BYTES = 64 << 20


class _PageBuffer:
    """Bounded page-row accumulator for mapInPandas kernels: ``add``
    returns a DataFrame to yield once row/byte caps are reached, so a
    kernel's live output never exceeds ~flush_bytes regardless of how
    many records one input batch selects."""

    COLS = ("url", "warc_ts", "html", "text", "lang")

    def __init__(self, flush_rows: int = _FLUSH_ROWS,
                 flush_bytes: int = _FLUSH_BYTES):
        self.flush_rows = max(1, flush_rows)
        self.flush_bytes = max(1, flush_bytes)
        self._rows: dict[str, list] = {k: [] for k in self.COLS}
        self._bytes = 0

    def add(self, page: dict):
        for k in self.COLS:
            self._rows[k].append(page[k])
        self._bytes += len(page["html"] or b"") + len(page["text"] or "")
        if (len(self._rows["url"]) >= self.flush_rows
                or self._bytes >= self.flush_bytes):
            return self.flush()
        return None

    def flush(self):
        if not self._rows["url"]:
            return None
        frame = pd.DataFrame(self._rows, columns=self.COLS)
        self._rows = {k: [] for k in self.COLS}
        self._bytes = 0
        return frame


def _make_split_kernel(flush_rows: int = _FLUSH_ROWS,
                       flush_bytes: int = _FLUSH_BYTES):
    def _split_kernel(batches: Iterable[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        buf = _PageBuffer(flush_rows, flush_bytes)
        for pdf in batches:
            for path, start, end, gz in zip(pdf["path"].tolist(),
                                            pdf["start"].tolist(),
                                            pdf["end"].tolist(),
                                            pdf["gz"].tolist()):
                try:
                    with _open_for_range(path) as f:
                        for headers, block in iter_warc_records_range(
                                f, int(start), int(end),
                                compressed=bool(gz)):
                            try:
                                page = _page_from_record(headers, block)
                            except Exception:  # noqa: BLE001 - skip record
                                continue
                            if page is not None:
                                out = buf.add(page)
                                if out is not None:
                                    yield out
                except Exception:  # noqa: BLE001 - unreadable split
                    continue
        tail = buf.flush()
        if tail is not None:
            yield tail
    return _split_kernel


_split_kernel = _make_split_kernel()


def read_warcs_split(spark: SparkSession, path_glob: str, *,
                     target_split_mb: int = 128) -> DataFrame:
    """pages DataFrame from WARC files with BYTE-RANGE parallelism: each
    file is planned into ~``target_split_mb`` ranges (one tiny driver-side
    listing — #files rows), one task per range. Equivalent rows to
    :func:`read_warcs`, but a multi-GB archive neither hits the 2 GB
    binaryFile row limit nor funnels into a single task.

    ``.gz`` parallelism assumes the Common-Crawl per-record-member
    convention. A spec-legal WHOLE-FILE-gzip archive stays correct but
    serial: split 0 owns the single member and parses it as a bounded
    stream (never inflating the archive in one buffer — see
    ``max_member_bytes``), while the other planned splits stop at their
    first boundary probe without finding an interior member."""
    import math

    meta = (spark.read.format("binaryFile").load(path_glob)
            .select("path", "length").collect())
    tsb = max(1, target_split_mb) << 20
    splits = []
    for r in meta:
        n = int(r["length"])
        k = max(1, math.ceil(n / tsb))
        step = math.ceil(n / k) if k else n
        gz = r["path"].endswith(".gz")
        for i in range(k):
            splits.append((r["path"], i * step, min((i + 1) * step, n), gz))
    sdf = spark.createDataFrame(
        splits, "path string, start long, end long, gz boolean")
    return (sdf.repartition(max(len(splits), 1))
            .mapInPandas(_split_kernel, PAGES_SCHEMA))


# --- CDX(J) index ingest -------------------------------------------------
# Common Crawl publishes a CDXJ index alongside its WARCs (public format:
# one line per capture, "urlkey timestamp {json}" with the json carrying
# url/status/mime/digest and the WARC byte range). Reading it is how a
# fetch-planning pipeline selects records BEFORE touching any archive
# bytes — the census leg in front of read_warcs_split.

CDXJ_FIELDS = ("url", "mime", "status", "digest", "length", "offset",
               "filename", "languages")


def parse_cdxj_lines(lines: DataFrame,
                     value_col: str = "value") -> DataFrame:
    """Parse CDXJ lines (one string column) to (urlkey, capture_ts, url,
    mime, status, digest, length, offset, filename, languages). The
    json's numeric fields arrive as JSON STRINGS (the published CDXJ
    convention), parsed as strings and cast. Entirely JVM-side — two
    substring splits and one from_json; malformed lines yield NULL
    parsed columns (observable, never dropped)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType
    schema = StructType([StructField(c, StringType())
                         for c in CDXJ_FIELDS])
    v = F.col(value_col)
    urlkey = F.substring_index(v, " ", 1)
    ts = F.substring_index(F.expr(
        f"substring({value_col}, length(substring_index({value_col},"
        f" ' ', 1)) + 2)"), " ", 1)
    js = F.expr(f"substring({value_col},"
                f" length(substring_index({value_col}, ' ', 2)) + 2)")
    parsed = F.from_json(js, schema)
    out_cols = []
    for c in CDXJ_FIELDS:
        col = F.col(f"_j.{c}")
        if c in ("length", "offset"):
            col = col.cast("long")
        elif c == "status":
            col = col.cast("int")
        out_cols.append(col.alias(c))
    return (lines
            .select(urlkey.alias("urlkey"),
                    F.to_timestamp(ts, "yyyyMMddHHmmss")
                    .alias("capture_ts"),
                    parsed.alias("_j"))
            .select("urlkey", "capture_ts", *out_cols))


def read_cdxj(spark: SparkSession, path_glob: str) -> DataFrame:
    """DataFrame over CDX(J) index files — the census leg in front of
    ``read_warcs_split``: a text scan feeding
    :func:`parse_cdxj_lines`, no Python and no shuffle, so a full-index
    pass (10^10 lines per crawl) runs at text-source speed."""
    return parse_cdxj_lines(spark.read.text(path_glob))


def cdxj_line(urlkey: str, ts: str, fields: dict) -> str:
    """One CDXJ line (fixture builder, the write-side inverse)."""
    import json as _json
    return f"{urlkey} {ts} {_json.dumps(fields, sort_keys=True)}"


def _plan_index_selection(index: DataFrame, *,
                          filename_col: str = "filename",
                          offset_col: str = "offset",
                          length_col: str = "length",
                          task_fetch_bytes: int = 256 << 20) -> DataFrame:
    """Partition an index selection for the planned fetch: cumulative
    selected LENGTH per archive (window over offset order) divided by
    ``task_fetch_bytes`` yields a sub-archive bucket, and the selection
    repartitions on (filename, bucket). A selection concentrated in one
    hot archive therefore fans out across ~total_bytes/task_fetch_bytes
    tasks instead of collapsing to one, while offsets stay monotone
    within each task (the bucket is an offset-ordered prefix range).
    Budgeting on bytes, not offset span, bounds per-task fetch volume
    regardless of how dense the selection is.

    The partition COUNT is pinned explicitly (one bounded planning job —
    a two-level partial aggregate returning a single row): AQE's
    coalescing sizes partitions by SHUFFLED bytes, and the shuffled rows
    here are tiny index entries while the real cost is the downstream
    fetch — left to AQE, every hot-archive bucket would coalesce back
    into one task. User-specified repartition counts are exempt."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    budget = max(1, task_fetch_bytes)
    sel = index.select(F.col(filename_col).alias("filename"),
                       F.col(offset_col).cast("long").alias("offset"),
                       F.col(length_col).cast("long").alias("length"))
    n_buckets = (sel.groupBy("filename")
                 .agg(F.sum("length").alias("_b"))
                 .agg(F.sum(F.ceil(F.col("_b") / F.lit(budget))))
                 .first()[0])
    w = (Window.partitionBy("filename").orderBy("offset", "length")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (sel
            .withColumn("_bucket",
                        F.floor((F.sum("length").over(w) - F.col("length"))
                                / F.lit(budget)))
            .repartition(max(1, int(n_buckets or 1)),
                         F.col("filename"), F.col("_bucket")))


def read_warc_records_by_index(spark: SparkSession, index: DataFrame,
                               warc_dir: str, *,
                               filename_col: str = "filename",
                               offset_col: str = "offset",
                               length_col: str = "length",
                               task_fetch_bytes: int = 256 << 20,
                               flush_rows: int = _FLUSH_ROWS,
                               flush_bytes: int = _FLUSH_BYTES) -> DataFrame:
    """pages rows for EXACTLY the index-selected records — the planned
    fetch that pairs with :func:`read_cdxj`: Common Crawl's index rows
    carry each record's (filename, byte offset, compressed length), so a
    selection census turns into range reads of single gzip members with
    no scan of unselected bytes (at web scale, HTTP range requests; here
    the same seeks through ``_open_for_range``'s local/pyarrow-fs
    streams).

    Shape: the selection partitions on (filename, byte-budget bucket) —
    see :func:`_plan_index_selection` — so each task owns at most
    ``task_fetch_bytes`` of one archive's reads, hot archives fan out
    across tasks, and reads stay offset-sorted within the task (monotone
    seeks). Output memory is bounded by ``flush_rows``/``flush_bytes``
    chunked yields (NOT one frame per input batch: input rows are tiny
    index entries but output rows are whole pages). Rows whose range
    fails to parse are skipped per-record, never killing a task."""
    sel = _plan_index_selection(index, filename_col=filename_col,
                                offset_col=offset_col,
                                length_col=length_col,
                                task_fetch_bytes=task_fetch_bytes)
    kernel = _make_index_fetch_kernel(warc_dir, flush_rows, flush_bytes)
    return sel.mapInPandas(kernel, PAGES_SCHEMA)


def _make_index_fetch_kernel(warc_dir: str,
                             flush_rows: int = _FLUSH_ROWS,
                             flush_bytes: int = _FLUSH_BYTES):
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf = _PageBuffer(flush_rows, flush_bytes)
        for pdf in batches:
            for fname, grp in pdf.groupby("filename"):
                try:
                    f = _open_for_range(warc_dir.rstrip("/") + "/" + fname)
                except Exception:  # noqa: BLE001 - missing archive
                    continue
                with f:
                    for off, ln in sorted(zip(grp["offset"].tolist(),
                                              grp["length"].tolist())):
                        try:
                            f.seek(int(off))
                            payload = f.read(int(ln))
                            for headers, block in iter_warc_records(
                                    payload):
                                page = _page_from_record(headers, block)
                                if page is not None:
                                    out = buf.add(page)
                                    if out is not None:
                                        yield out
                        except Exception:  # noqa: BLE001 - bad range
                            continue
        tail = buf.flush()
        if tail is not None:
            yield tail
    return kernel


# --- WET output (Common Crawl's extracted-text distribution format) -----

def wet_record_col(url_col, date_col, text_col):
    """One WET 'conversion' record as a BINARY column, built entirely
    from JVM expressions (concat + octet_length — Content-Length is the
    UTF-8 BYTE count, not the char count): the serialization side of
    the Common-Crawl loop, so a corpus this engine extracts can be
    published in the same format the reference corpora ship in. The
    record id is a deterministic uuid-shaped md5 of (url, date) —
    re-runs and retries emit byte-identical records."""
    from pyspark.sql import functions as F
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    dt = F.col(date_col) if isinstance(date_col, str) else date_col
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    h = F.md5(F.concat(u, F.lit("\n"), dt))
    rid = F.concat(
        F.lit("<urn:uuid:"), F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-"), F.substring(h, 13, 4),
        F.lit("-"), F.substring(h, 17, 4), F.lit("-"),
        F.substring(h, 21, 12), F.lit(">"))
    head = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
        u, F.lit("\r\nWARC-Date: "), dt,
        F.lit("\r\nWARC-Record-ID: "), rid,
        F.lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
        F.octet_length(t).cast("string"), F.lit("\r\n\r\n"))
    return F.encode(F.concat(head, t, F.lit("\r\n\r\n")), "UTF-8")


def _wet_page_from_record(headers: dict, block: bytes) -> dict | None:
    """(url, warc_ts, text) dict for a conversion record, else None."""
    if headers.get("warc-type") != "conversion":
        return None
    url = headers.get("warc-target-uri")
    date = headers.get("warc-date")
    if not url or not date:
        return None
    return {"url": url, "warc_ts": _parse_warc_date(date),
            "text": block.decode("utf-8", errors="replace")}


def parse_wet_pages(payload: bytes) -> list[dict]:
    """Extract (url, warc_ts, text) rows from one WET file's bytes —
    conversion records only; warcinfo/other kinds skip; one malformed
    record never discards its neighbors."""
    out = []
    for headers, block in iter_warc_records(payload):
        try:
            page = _wet_page_from_record(headers, block)
        except Exception:  # noqa: BLE001 - skip the record, keep the file
            continue
        if page is not None:
            out.append(page)
    return out


WET_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("text", StringType()),
])


def _wet_pages(content) -> list[tuple]:
    """(url, warc_ts, text) rows of one WET file; a malformed shard
    yields none."""
    try:
        pages = parse_wet_pages(bytes(content))
    except Exception:  # noqa: BLE001 - malformed shard
        return []
    return [(p["url"], p["warc_ts"], p["text"]) for p in pages]


def read_wets(spark: SparkSession, path_glob: str) -> DataFrame:
    """(url, warc_ts, text) rows from a directory/glob of .warc.wet /
    .warc.wet.gz files — one task per file, same sharding unit as
    read_warcs."""
    files = (spark.read.format("binaryFile").load(path_glob)
             .select("content"))
    return files.mapInPandas(
        row_kernel(WET_SCHEMA, _wet_pages, ("content",)), WET_SCHEMA)


def _clean_stale_shards(out_dir: str) -> None:
    """Remove part-* shards left by a previous run into ``out_dir`` —
    a re-run with fewer partitions must not leave (or count) stale
    higher-numbered shards that read_warcs/read_wets would re-ingest."""
    import glob as _glob
    import os
    for p in _glob.glob(os.path.join(out_dir, "part-*")):
        os.remove(p)


def write_wet(df: DataFrame, out_dir: str, *, url_col: str = "url",
              date_col: str = "wet_date", text_col: str = "text",
              compress: bool = True) -> int:
    """Write (url, date, text) rows as WET shard files — one
    ``part-NNNNN.warc.wet[.gz]`` per input partition (the Common-Crawl
    sharding unit; partition the input by crawl shard upstream to
    control file count/size). Records serialize JVM-side
    (wet_record_col); the partition writer only concatenates bytes.
    Returns the number of shards written THIS run (stale part-* files
    from a previous, differently-partitioned run are removed first so
    the directory re-ingests cleanly). Rows with a NULL url/date/text
    produce a NULL record (concat propagates null) and are dropped
    before the write — a null-payload row has no WET representation.
    Paths are driver-visible filesystem paths (local/NFS here; the
    same per-partition writer shape targets HDFS/S3 client libs on a
    cluster)."""
    import os

    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    _clean_stale_shards(out_dir)
    recs = df.select(wet_record_col(url_col, date_col, text_col)
                     .alias("rec"),
                     F.spark_partition_id().alias("_pid")) \
        .filter(F.col("rec").isNotNull())

    def write_part(it):
        first = next(it, None)
        if first is None:
            return
        pid = first["_pid"]
        ext = ".warc.wet.gz" if compress else ".warc.wet"
        path = os.path.join(out_dir, f"part-{pid:05d}{ext}")
        payload = b"".join([bytes(first["rec"])]
                           + [bytes(r["rec"]) for r in it])
        if compress:
            payload = gzip.compress(payload, mtime=0)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, path)  # atomic: a retry never leaves half a shard
        yield path

    # mapPartitions (not foreachPartition) so the count reflects the
    # shards THIS run wrote, never pre-existing files in out_dir
    written = recs.rdd.mapPartitions(write_part).collect()
    return len(set(written))


# --- WARC response-record output (re-publishable crawl shards) ----------

def warc_response_record_col(url_col, date_col, html_col):
    """One WARC/1.0 'response' record (HTTP 200, text/html) as a BINARY
    column from JVM expressions — the re-publishing sink for a filtered
    or re-crawled page corpus, so a curated subset can ship in the same
    container format it arrived in. Both Content-Lengths are byte
    counts (the HTTP block's includes its header); the record id is the
    deterministic uuid-shaped md5 of (url, date) like the WET writer."""
    from pyspark.sql import functions as F
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    dt = F.col(date_col) if isinstance(date_col, str) else date_col
    h = F.col(html_col) if isinstance(html_col, str) else html_col
    hid = F.md5(F.concat(u, F.lit("\n"), dt))
    rid = F.concat(
        F.lit("<urn:uuid:"), F.substring(hid, 1, 8), F.lit("-"),
        F.substring(hid, 9, 4), F.lit("-"), F.substring(hid, 13, 4),
        F.lit("-"), F.substring(hid, 17, 4), F.lit("-"),
        F.substring(hid, 21, 12), F.lit(">"))
    http_head = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; "
              "charset=utf-8\r\nContent-Length: "),
        F.octet_length(h).cast("string"), F.lit("\r\n\r\n"))
    block_len = F.octet_length(http_head) + F.octet_length(h)
    warc_head = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        u, F.lit("\r\nWARC-Date: "), dt,
        F.lit("\r\nWARC-Record-ID: "), rid,
        F.lit("\r\nContent-Type: application/http; msgtype=response"
              "\r\nContent-Length: "),
        block_len.cast("string"), F.lit("\r\n\r\n"))
    return F.concat(F.encode(warc_head, "UTF-8"),
                    F.encode(http_head, "UTF-8"),
                    h, F.encode(F.lit("\r\n\r\n"), "UTF-8"))


def write_warc(df: DataFrame, out_dir: str, *, url_col: str = "url",
               date_col: str = "warc_date", html_col: str = "html",
               compress: bool = True) -> int:
    """Write (url, date, html-bytes) rows as WARC response shards — one
    ``part-NNNNN.warc[.gz]`` per input partition, records serialized
    JVM-side (warc_response_record_col), atomic per-shard rename; the
    same contract as :func:`write_wet` (stale part-* files removed
    first; NULL url/date/html rows dropped — no WARC representation;
    count = shards written THIS run). The result re-ingests through
    :func:`read_warcs` byte-identically."""
    import os

    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    _clean_stale_shards(out_dir)
    recs = df.select(
        warc_response_record_col(url_col, date_col, html_col)
        .alias("rec"),
        F.spark_partition_id().alias("_pid")) \
        .filter(F.col("rec").isNotNull())

    def write_part(it):
        first = next(it, None)
        if first is None:
            return
        pid = first["_pid"]
        ext = ".warc.gz" if compress else ".warc"
        path = os.path.join(out_dir, f"part-{pid:05d}{ext}")
        payload = b"".join([bytes(first["rec"])]
                           + [bytes(r["rec"]) for r in it])
        if compress:
            payload = gzip.compress(payload, mtime=0)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, path)
        yield path

    written = recs.rdd.mapPartitions(write_part).collect()
    return len(set(written))
