"""WARC ingestion source — the Common-Crawl on-ramp to the pages table.

The engine's input table ``(url, warc_ts, html, ...)`` (BASELINE.json
input_hint) is, in production, materialized from Common-Crawl-style WARC
archives; its extraction output goes back out as WET archives (CC's
extracted-text layout: ``WARC-Type: conversion`` records with a
``text/plain`` block), the interchange sink CC tooling, dedup pipelines and
tokenizer runs consume directly. Public-spec-only code (ISO 28500
WARC/1.0/1.1; RFC 1952 gzip; CC's published WET layout).

One codec serves both kinds: :data:`WARC` (HTTP ``response`` records) and
:data:`WET` (``conversion`` records) parameterize one writer
(:func:`write_warc`/:func:`write_wet`, byte-deterministic, in the three
wild layouts: plain, one gzip stream, and CC's one gzip *member per
record* that makes archives seekable by CDX offset), one row reader, one
Spark scan (``binaryFile`` → :func:`parse_archives`, a ``mapInArrow``
stage), one per-partition ``mapInArrow`` archive writer and one fixture
cache. :func:`iter_warc_records` decompresses gzip members one at a time
and scans records from a rolling buffer, so peak memory is one record +
one member, never the whole decompressed archive (~1 GB compressed CC
files decompress 3-5x). :func:`fetch_warc_bodies` reads single records
back by CDX offset.

Scale notes (100 TB crawl ≈ 100k × 1 GB archives): WARC archives don't
split — gzip members must be scanned sequentially — so ``binaryFile``'s
one-task-per-file granularity is exactly right for a 1000-executor
cluster: ~100 tasks per executor, zero shuffle, and per-partition lineage
attaches naturally to the archive path. ``pathGlobFilter`` prunes at the
listing, and the parse yields output batches of at most ``_CHUNK_ROWS``
rows, so Arrow batches stay small even for million-record archives.
"""

from __future__ import annotations

import datetime as _dt
import functools
import gzip as _gzip
import io as _io
import itertools
import os
import re as _re
import zlib as _zlib
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

import pyarrow as pa

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"
_GZIP_MAGIC = b"\x1f\x8b"

# rows per output Arrow batch: bounds driver/executor batch memory no
# matter how many records one archive holds
_CHUNK_ROWS = 2048


# ---------------------------------------------------------------------------
# writer (fixture producer)
# ---------------------------------------------------------------------------


def _warc_record(headers: list[tuple[str, str]], block: bytes) -> bytes:
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}".encode() + _CRLF
        for k, v in [*headers, ("Content-Length", str(len(block)))]
    )
    return head + _CRLF + block + _CRLF + _CRLF


def _http_response_block(html: bytes) -> bytes:
    http_head = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n"
        + f"Content-Length: {len(html)}".encode()
        + _CRLF
    )
    return http_head + _CRLF + html


def write_warc(
    path: str,
    records: list[tuple[str, _dt.datetime, bytes]],
    compression: str = "record",
) -> int:
    """Write ``records`` = [(url, warc_ts, html_bytes), ...] as a WARC file.

    ``compression``: ``"record"`` (Common Crawl layout — every record its
    own gzip member, mtime pinned to 0 so output is byte-deterministic),
    ``"file"`` (one gzip stream), or ``"none"``. Returns record count
    (including the leading warcinfo record). Deterministic in its inputs —
    no wall-clock reads; the warcinfo date reuses the first record's ts.
    """
    return _write_archive(path, records, compression, WARC)


def write_wet(
    path: str,
    records: list[tuple[str, _dt.datetime, str]],
    compression: str = "record",
) -> int:
    """Write ``records`` = [(url, warc_ts, extracted_text), ...] as a WET
    file (UTF-8 conversion records), otherwise exactly like :func:`write_warc`."""
    return _write_archive(path, records, compression, WET)


def _write_archive(path: str, records: list[tuple], compression: str, codec: ArchiveCodec) -> int:
    """Frame a warcinfo record plus one ``codec`` record per ``(url,
    warc_ts, payload)`` and serialize them under one of the three wild
    layouts; returns the record count."""
    info_ts = records[0][1] if records else _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
    info_headers = [
        ("WARC-Type", "warcinfo"),
        ("WARC-Date", _iso(info_ts)),
        ("Content-Type", "application/warc-fields"),
    ]
    raw_records = [_warc_record(info_headers, codec.info)]
    for url, ts, payload in records:
        headers = [
            ("WARC-Type", codec.record_type),
            ("WARC-Target-URI", url),
            ("WARC-Date", _iso(ts)),
            ("Content-Type", codec.content_type),
        ]
        raw_records.append(_warc_record(headers, codec.to_block(payload)))
    if compression not in ("record", "file", "none"):
        raise ValueError(f"unknown compression {compression!r}")
    with open(path, "wb") as f:
        if compression == "file":
            f.write(_gzip_member(b"".join(raw_records)))
        else:
            for rec in raw_records:
                f.write(_gzip_member(rec) if compression == "record" else rec)
    return len(raw_records)


def _gzip_member(data: bytes) -> bytes:
    """``data`` as one gzip member, mtime pinned to 0 so output is
    byte-deterministic (``gzip.compress`` would stamp the host OS byte)."""
    buf = _io.BytesIO()
    with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(data)
    return buf.getvalue()


def _iso(ts: _dt.datetime) -> str:
    # A NAIVE datetime is treated as already-UTC: astimezone() alone would
    # interpret it as host-local time and silently shift WARC-Date by the
    # host's UTC offset (ADVICE r4 — write_warc_archives guarded this, but
    # direct write_warc callers were exposed).
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return ts.astimezone(_dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


# ---------------------------------------------------------------------------
# incremental parser
# ---------------------------------------------------------------------------


# decompression granularity: peak parser memory is one chunk + one
# record, for ALL three layouts (a whole-file-gzip member would otherwise
# inflate the entire 3-5x-decompressed archive into one bytes object)
_DECOMP_CHUNK = 4 << 20


def _iter_decompressed(raw: bytes) -> Iterator[tuple[bytes, int]]:
    """Yield (decompressed_chunk, compressed_offset_of_member). Plain input
    yields itself once at offset 0. Gzip input is walked member by member
    (``decompressobj.unused_data`` marks the next member) in bounded
    ``_DECOMP_CHUNK`` slices (``decompress(data, max_length)`` +
    ``unconsumed_tail``) — the property that makes 1 GB CC archives
    parseable inside a small executor heap regardless of member size.
    A truncated/corrupt member (torn upload, bad disk block) stops the
    walk: records already parsed survive, the damaged tail is dropped —
    a single bad archive must cost its tail, not the whole task."""
    if not raw.startswith(_GZIP_MAGIC):
        yield raw, 0
        return
    pos = 0
    n = len(raw)
    view = memoryview(raw)
    while pos < n and raw[pos : pos + 2] == _GZIP_MAGIC:
        obj = _zlib.decompressobj(wbits=31)
        feed: bytes | memoryview = view[pos:]
        corrupt = False
        while True:
            try:
                out = obj.decompress(feed, _DECOMP_CHUNK)
            except _zlib.error:
                corrupt = True
                break
            if out:
                yield out, pos
            if obj.eof:
                break
            feed = obj.unconsumed_tail
            if not feed:
                break  # truncated member: input exhausted before the trailer
        if corrupt or not obj.eof:
            break
        consumed = n - pos - len(obj.unused_data)
        if consumed <= 0:  # corrupt trailer: stop rather than spin
            break
        pos += consumed


def iter_warc_records(raw: bytes) -> Iterator[tuple[dict[str, str], bytes, int]]:
    """Yield ``(warc_headers_lowercased, block_bytes, offset)`` per record.

    ``offset`` is the compressed byte offset of the gzip member the record
    started in (== the CDX ``offset`` field for record-compressed CC
    archives) or the plain-file byte offset for uncompressed input.
    Tolerates both CRLF and bare-LF header line endings.
    """
    import collections

    is_gz = raw.startswith(_GZIP_MAGIC)
    buf = bytearray()
    # (decompressed_stream_pos, compressed_member_offset) marks: lets a
    # record's front byte be mapped back to the gzip member it came from
    marks: collections.deque[tuple[int, int]] = collections.deque()
    consumed_total = 0  # decompressed bytes already parsed away
    for chunk, member_off in _iter_decompressed(raw):
        marks.append((consumed_total + len(buf), member_off))
        buf += chunk
        while True:
            got = _parse_one(buf)
            if got is None:
                # incomplete record: wait for more input. If nothing in the
                # buffer can ever start a record, keep only a 4-byte tail
                # (b"WARC/" could straddle the chunk boundary) so junk runs
                # never accumulate.
                if len(buf) > 8 and buf.find(b"WARC/") < 0:
                    drop = len(buf) - 4
                    del buf[:drop]
                    consumed_total += drop
                break
            if got[0] == "bad":
                # malformed header at the front (unparseable/missing
                # Content-Length): resync at the next candidate record
                # start instead of stalling — one damaged record must cost
                # itself, not every record after it (and an un-advancing
                # buffer would otherwise accumulate the whole archive)
                nxt = buf.find(b"WARC/", got[1])
                drop = nxt if nxt >= 0 else max(got[1], len(buf) - 4)
                del buf[:drop]
                consumed_total += drop
                if nxt < 0:
                    break
                continue
            _, headers, block, start, consumed = got
            rec_pos = consumed_total + start
            while len(marks) > 1 and marks[1][0] <= rec_pos:
                marks.popleft()
            yield headers, block, (marks[0][1] if is_gz else rec_pos)
            del buf[:consumed]
            consumed_total += consumed


def _parse_one(
    buf: bytearray,
) -> tuple[str, dict[str, str], bytes, int, int] | tuple[str, int] | None:
    """Parse one complete record from the front of ``buf``.

    Returns ``("ok", headers, block, start, consumed)`` for a parsed
    record, ``None`` when more input is needed (incomplete header or
    block), or ``("bad", resume_pos)`` when the record at the front has a
    complete header but no parseable Content-Length — the caller resyncs
    at the next candidate start instead of stalling.
    """
    start = buf.find(b"WARC/")
    if start < 0:
        return None
    hdr_end = buf.find(_HDR_END, start)
    lf_end = buf.find(b"\n\n", start)
    if hdr_end < 0 and lf_end < 0:
        return None
    if hdr_end < 0 or (0 <= lf_end < hdr_end):
        hdr_end, sep = lf_end, 2
    else:
        sep = 4
    headers: dict[str, str] = {}
    for line in bytes(buf[start:hdr_end]).split(b"\n")[1:]:
        line = line.strip(b"\r")
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.decode("latin-1").strip().lower()] = v.decode("latin-1").strip()
    try:
        length = int(headers.get("content-length", ""))
    except ValueError:
        return ("bad", start + 5)
    block_start = hdr_end + sep
    if len(buf) < block_start + length:
        return None  # need more decompressed input
    block = bytes(buf[block_start : block_start + length])
    # consume the record plus its trailing \r\n\r\n (tolerate missing)
    end = block_start + length
    while end < len(buf) and buf[end] in (0x0D, 0x0A):
        end += 1
    return ("ok", headers, block, start, end)


def _http_body(block: bytes) -> bytes:
    """Split the HTTP response block: body follows the first blank line."""
    i = block.find(_HDR_END)
    if i >= 0:
        return block[i + 4 :]
    i = block.find(b"\n\n")
    return block[i + 2 :] if i >= 0 else block


_LANG_ATTR = _re.compile(rb'<html[^>]*\blang=["\']?([A-Za-z][A-Za-z-]{0,10})', _re.I)


def _sniff_lang(html: bytes, http_head: bytes) -> str | None:
    """lang from the <html lang=..> attribute of the first KB, falling back
    to the HTTP Content-Language header. CC pipelines re-derive language
    with a classifier downstream (this engine's lang_id query); the sniff
    just carries the source's own claim into the input_hint `lang` column."""
    m = _LANG_ATTR.search(html[:1024])
    if m:
        return m.group(1).decode("ascii").lower()
    m2 = _re.search(rb"(?im)^content-language:\s*([A-Za-z-]+)", http_head)
    return m2.group(1).decode("ascii").lower() if m2 else None


def _parse_warc_date(ts_raw: str | None) -> _dt.datetime | None:
    if not ts_raw:
        return None
    # WARC/1.0 whole seconds; WARC/1.1 allows fractional seconds
    # (wget, warcprox, newer CC tooling emit them)
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return _dt.datetime.strptime(ts_raw, fmt).replace(tzinfo=_dt.timezone.utc)
        except ValueError:
            pass
    return None


# ---------------------------------------------------------------------------
# the two archive kinds
# ---------------------------------------------------------------------------

PAGES_FROM_WARC_SCHEMA = (
    "url string, warc_ts timestamp, html binary, lang string, "
    "warc_file string, warc_offset long"
)

TEXT_FROM_WET_SCHEMA = (
    "url string, warc_ts timestamp, extracted_text string, "
    "warc_file string, warc_offset long"
)


def _record_row(headers: dict[str, str], block: bytes, codec: ArchiveCodec) -> tuple:
    """``(url, warc_ts, *payload columns)`` of one ``codec`` record."""
    url = headers.get("warc-target-uri", "")
    return (url, _parse_warc_date(headers.get("warc-date")), *codec.to_row(block))


def _response_payload(block: bytes) -> tuple[bytes, str | None]:
    """``(html, lang)`` of an HTTP response block."""
    body = _http_body(block)
    return body, _sniff_lang(body, block[: len(block) - len(body)])


def _conversion_payload(block: bytes) -> tuple[str]:
    return (block.decode("utf-8", errors="replace"),)


@dataclass(frozen=True)
class ArchiveCodec:
    """One archive kind: the payload record it writes and reads back."""

    name: str  # cache-key prefix
    record_type: str  # WARC-Type of the payload records
    content_type: str  # their Content-Type header
    info: bytes  # the warcinfo block
    ext: str  # file extension of an uncompressed archive (".gz" appended otherwise)
    payload: str  # the column the distributed writer frames
    schema: str  # the Spark scan's output schema
    to_block: Callable[[object], bytes]  # payload → record block
    to_row: Callable[[bytes], tuple]  # record block → payload columns


WARC = ArchiveCodec(
    name="warc",
    record_type="response",
    content_type="application/http; msgtype=response",
    info=b"software: docling-ibm-models-spark warc writer\r\nformat: WARC File Format 1.0\r\n",
    ext=".warc",
    payload="html",
    schema=PAGES_FROM_WARC_SCHEMA,
    to_block=_http_response_block,
    to_row=_response_payload,
)

WET = ArchiveCodec(
    name="wet",
    record_type="conversion",
    content_type="text/plain",
    info=(
        b"software: docling-ibm-models-spark wet writer\r\n"
        b"format: WARC File Format 1.0\r\n"
        b"publisher: extraction pipeline (conversion records)\r\n"
    ),
    ext=".warc.wet",
    payload="extracted_text",
    schema=TEXT_FROM_WET_SCHEMA,
    to_block=str.encode,  # UTF-8
    to_row=_conversion_payload,
)


def _records_to_rows(name: str, raw: bytes, codec: ArchiveCodec) -> Iterator[tuple]:
    for headers, block, offset in iter_warc_records(raw):
        if headers.get("warc-type") == codec.record_type:
            yield (*_record_row(headers, block, codec), name, offset)


def warc_records_to_rows(
    name: str, raw: bytes
) -> Iterator[tuple[str, _dt.datetime | None, bytes, str | None, str, int]]:
    """All HTTP-response records of one archive as pages-shaped tuples
    ``(url, warc_ts, html, lang, warc_file, warc_offset)``."""
    return _records_to_rows(name, raw, WARC)


def wet_records_to_rows(
    name: str, raw: bytes
) -> Iterator[tuple[str, _dt.datetime | None, str, str, int]]:
    """All conversion records of one WET archive as extraction-output-shaped
    tuples ``(url, warc_ts, extracted_text, warc_file, warc_offset)``."""
    return _records_to_rows(name, raw, WET)


_ARROW_TYPES = {
    "string": pa.string(),
    "binary": pa.binary(),
    "long": pa.int64(),
    # Spark TimestampType: microseconds since the epoch, UTC
    "timestamp": pa.timestamp("us", tz="UTC"),
}


def _arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of a flat ``"name type, ..."`` Spark schema string."""
    return pa.schema([(n, _ARROW_TYPES[t]) for n, t in (f.split() for f in ddl.split(", "))])


def _to_batches(rows: Iterable[tuple], ddl: str) -> Iterator[pa.RecordBatch]:
    """Row tuples → Arrow batches of at most ``_CHUNK_ROWS`` rows."""
    schema = _arrow_schema(ddl)
    it = iter(rows)
    while chunk := list(itertools.islice(it, _CHUNK_ROWS)):
        cols = [pa.array(col, f.type) for col, f in zip(zip(*chunk), schema)]
        yield pa.RecordBatch.from_arrays(cols, schema=schema)


# ---------------------------------------------------------------------------
# CDX offset read-back (random access — the point of recording offsets)
# ---------------------------------------------------------------------------

# refuse to buffer more than this for ONE record fetch: a hostile/corrupt
# Content-Length must not make a point-fetch inflate a whole archive
_MAX_FETCH_RECORD = 256 << 20


# per-read granularity for point fetches: ~the compressed size of a typical
# CC member (10-30 KiB), so one record usually costs 1-2 reads while a
# megabyte-scale record still streams in bounded steps
_FETCH_CHUNK = 32 * 1024


def _read_record_from(f, offset: int, chunk: int = _FETCH_CHUNK):
    """Read ONE WARC record from open file ``f`` at CDX ``offset``:
    seek, then read forward ONLY until the record is complete — never the
    rest of the archive. Returns ``(headers, block, compressed_bytes_read)``.

    Supports the two seekable layouts: record-per-gzip-member (Common
    Crawl's — ``offset`` is a member start) and uncompressed (``offset``
    is the record's byte position). A whole-file-gzip archive is NOT
    random-accessible (every record maps to member offset 0 — fetching
    there returns the stream's first record); that is exactly why CC uses
    the record-compressed layout, and why :func:`pages_from_warc` records
    member offsets in the first place.
    """
    f.seek(offset)
    first = f.read(max(chunk, 4))
    if len(first) < 4:
        raise ValueError(f"offset {offset}: past end of archive")
    bytes_read = len(first)
    buf = bytearray()
    if first.startswith(_GZIP_MAGIC):
        obj = _zlib.decompressobj(wbits=31)
        pending: bytes = first
        while True:
            while pending:
                buf += obj.decompress(pending, _DECOMP_CHUNK)
                if len(buf) > _MAX_FETCH_RECORD:
                    raise ValueError(f"offset {offset}: record exceeds fetch cap")
                if obj.eof:
                    break
                pending = obj.unconsumed_tail
            got = _parse_one(buf)
            if got is not None and got[0] == "ok":
                _, headers, block, start, _ = got
                if start != 0:
                    raise ValueError(f"offset {offset}: not a record start")
                return headers, block, bytes_read
            if got is not None and got[0] == "bad":
                raise ValueError(f"offset {offset}: unparseable record header")
            if obj.eof:
                raise ValueError(f"offset {offset}: member ended mid-record")
            pending = f.read(chunk)
            if not pending:
                raise ValueError(f"offset {offset}: archive truncated")
            bytes_read += len(pending)
    else:
        buf += first
        if not buf.startswith(b"WARC/"):
            raise ValueError(f"offset {offset}: not a record start")
        while True:
            got = _parse_one(buf)
            if got is not None and got[0] == "ok":
                _, headers, block, start, _ = got
                return headers, block, bytes_read
            if got is not None and got[0] == "bad":
                raise ValueError(f"offset {offset}: unparseable record header")
            if len(buf) > _MAX_FETCH_RECORD:
                raise ValueError(f"offset {offset}: record exceeds fetch cap")
            data = f.read(chunk)
            if not data:
                raise ValueError(f"offset {offset}: archive truncated")
            buf += data
            bytes_read += len(data)


def _local_path(path: str) -> str:
    return path[5:] if path.startswith("file:") else path


def read_warc_record_at(path: str, offset: int) -> tuple[dict[str, str], bytes, int]:
    """Fetch one record by ``(archive path, CDX offset)`` without scanning
    the archive — seek + single-member decompress. Returns ``(headers,
    block, compressed_bytes_read)``; ``compressed_bytes_read`` is the
    evidence that only ~one record's worth of the file was touched."""
    with open(_local_path(path), "rb") as f:
        return _read_record_from(f, offset)


# fetched-record schema: the pages shape plus the read-cost evidence column
FETCHED_FROM_CDX_SCHEMA = (
    "url string, warc_ts timestamp, html binary, lang string, "
    "warc_file string, warc_offset long, fetch_bytes long"
)


def fetch_warc_bodies(cdx_df):
    """CDX index rows ``(warc_file, warc_offset, ...)`` → full records via
    seek-read. The distributed shape for 'pull N documents out of a 100 TB
    crawl by index': repartition by archive, sort within partitions by
    ``(warc_file, warc_offset)`` so each task reads each archive in one
    forward-only pass (object-store range reads coalesce) with one file
    open at a time, then one Arrow-batched fetch per row — compressed
    bytes touched ≈ sum of the fetched records' member sizes, not the
    archive sizes. url/warc_ts/lang are re-derived from the FETCHED record
    (not trusted from the index), so downstream joins verify the index
    points where it claims."""
    return (
        cdx_df.repartition("warc_file")
        .sortWithinPartitions("warc_file", "warc_offset")
        .mapInArrow(_fetch_records, FETCHED_FROM_CDX_SCHEMA)
    )


def _fetch_records(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The fetch task over archive-sorted ``(warc_file, warc_offset)``
    batches: an archive is closed as soon as the rows move on to the next,
    so a task holds one file open however many archives it reads."""

    def rows():
        current, f = None, None
        try:
            for rb in batches:
                files = rb.column("warc_file").to_pylist()
                offsets = rb.column("warc_offset").to_pylist()
                for path, off in zip(files, offsets):
                    if path != current:
                        if f is not None:
                            f.close()
                        current, f = path, open(_local_path(path), "rb")
                    headers, block, nread = _read_record_from(f, off)
                    yield (*_record_row(headers, block, WARC), path, off, nread)
        finally:
            if f is not None:
                f.close()

    return _to_batches(rows(), FETCHED_FROM_CDX_SCHEMA)


# ---------------------------------------------------------------------------
# Spark source
# ---------------------------------------------------------------------------


def parse_archives(archives, codec: ArchiveCodec):
    """``(path, content, ...)`` rows of a ``binaryFile`` scan, batch or
    streaming → one ``codec.schema`` row per ``codec`` record: one
    ``mapInArrow`` stage decoding one archive at a time."""
    return archives.select("path", "content").mapInArrow(
        functools.partial(_parse_batches, codec), codec.schema
    )


def _parse_batches(codec: ArchiveCodec, batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    def rows():
        for rb in batches:
            paths, contents = rb.column("path"), rb.column("content")
            for i in range(rb.num_rows):
                yield from _records_to_rows(paths[i].as_py(), contents[i].as_py(), codec)

    return _to_batches(rows(), codec.schema)


def pages_from_warc(spark, path_glob: str | list[str]):
    """Scan WARC archives into the pages-table shape.

    ``path_glob`` is a directory, glob, or explicit file list (the lineage
    runner passes per-group archive lists). One ``binaryFile`` task per
    archive (WARC doesn't split), Arrow-batched parse, zero shuffle;
    ``warc_file``/``warc_offset`` carry the CDX-style provenance the
    lineage sink records per partition.
    """
    return parse_archives(spark.read.format("binaryFile").load(path_glob), WARC)


def text_from_wet(spark, path_glob: str | list[str]):
    """Scan WET archives back into the extraction-output shape, exactly
    like :func:`pages_from_warc`."""
    return parse_archives(spark.read.format("binaryFile").load(path_glob), WET)


def write_warc_archives(
    pages_df, out_dir: str, layouts: tuple[str, ...] = ("record", "file", "none")
) -> int:
    """Write a pages DataFrame ``(url, warc_ts, html, ...)`` as WARC
    archives, one per partition (the producer job CC itself runs: crawler
    shards → archives). Distributed — each task writes its own archive;
    ``layouts`` cycle deterministically by partition id so consumers
    exercise every listed layout (pass ``("record", "none")`` for a
    seekable-only corpus — the whole-file-gzip layout cannot serve CDX
    point fetches). Returns the number of archives written."""
    return _write_archives(pages_df, out_dir, layouts, WARC)


def write_wet_archives(
    text_df, out_dir: str, layouts: tuple[str, ...] = ("record", "file", "none")
) -> int:
    """Write an extraction-output DataFrame ``(url, warc_ts,
    extracted_text)`` as WET archives, exactly like :func:`write_warc_archives`
    — the distributed sink a 10^12-doc extraction run ends in."""
    return _write_archives(text_df, out_dir, layouts, WET)


def _write_archives(df, out_dir: str, layouts: tuple[str, ...], codec: ArchiveCodec) -> int:
    os.makedirs(out_dir, exist_ok=True)
    n = (
        df.select("url", "warc_ts", codec.payload)
        .mapInArrow(functools.partial(_write_partition, out_dir, layouts, codec), "archives int")
        .groupBy()
        .sum("archives")
        .collect()[0][0]
    )
    return int(n or 0)


def _write_partition(
    out_dir: str, layouts: tuple[str, ...], codec: ArchiveCodec, batches: Iterator[pa.RecordBatch]
) -> Iterator[pa.RecordBatch]:
    """One task's ``(url, warc_ts, payload)`` rows → one archive, its
    layout picked by partition id; yields 1 if it wrote one, else 0."""
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    recs = [rec for rb in batches for rec in zip(*(col.to_pylist() for col in rb.columns))]
    if recs:
        comp = layouts[pid % len(layouts)]
        # extension tells the truth: gzip/zcat, CDX indexers, and
        # pathGlobFilter patterns all key on it
        ext = codec.ext if comp == "none" else codec.ext + ".gz"
        _write_archive(os.path.join(out_dir, f"crawl-{pid:05d}{ext}"), recs, comp, codec)
    yield pa.RecordBatch.from_arrays([pa.array([int(bool(recs))], pa.int32())], names=["archives"])


def cached_warc_dir(
    spark,
    sf_dir: str,
    files: int = 8,
    layouts: tuple[str, ...] = ("record", "file", "none"),
) -> str:
    """Materialize the synthetic pages rows as WARC archives under /tmp,
    cached by (sf_dir, files, layouts, generator+this module's hash) — the
    local stand-in for 'the crawl archives already sit in object storage'."""
    return _cached_archive_dir(spark, sf_dir, WARC, files, layouts, spark.read.parquet)


def cached_wet_dir(spark, sf_dir: str, files: int = 8) -> str:
    """Like :func:`cached_warc_dir`, the WET corpus the extraction pipeline
    produces over the synthetic pages (the real kernel's output, warc_ts
    re-attached from the pages table)."""
    from docling_ibm_models_spark.pipeline.extract import extract_doc_text

    def extracted_with_ts(pages_path: str):
        extracted = extract_doc_text(spark.read.parquet(pages_path)).select("url", "extracted_text")
        # re-attach warc_ts for the conversion records' WARC-Date — one
        # url-keyed shuffle join in the fixture producer only; the
        # production sink receives warc_ts alongside the extraction output
        return extracted.join(spark.read.parquet(pages_path).select("url", "warc_ts"), "url")

    return _cached_archive_dir(
        spark, sf_dir, WET, files, ("record", "file", "none"), extracted_with_ts
    )


def _cached_archive_dir(spark, sf_dir: str, codec: ArchiveCodec, files: int, layouts, rows) -> str:
    """``rows(pages_path)`` written as ``files`` ``codec`` archives (url-hash
    partitioned) under /tmp, once per (kind, pages cache key, files,
    layouts, this module's hash); ``_SUCCESS`` marks a finished build."""
    import hashlib
    import tempfile

    from docling_ibm_models_spark.sources.pages_source import cached_pages_path

    pages_path = cached_pages_path(spark, sf_dir)
    with open(os.path.abspath(__file__), "rb") as f:
        mod_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    # fold the pages cache key in: a pages-generator change must invalidate
    # the derived archives too. The kind goes first: pages_key starts with
    # '_' (path-mangled), and a leading underscore makes Spark's file index
    # treat the dir as a metadata path ("All paths were ignored")
    pages_key = os.path.basename(os.path.dirname(pages_path))
    lay = "".join(s[0] for s in layouts)  # rfn / rn ...
    key = f"{codec.name}-{pages_key}-f{files}-{lay}-{mod_hash}"
    out_dir = os.path.join(tempfile.gettempdir(), "bench_archive_cache", key)
    done = os.path.join(out_dir, "_SUCCESS")
    if not os.path.exists(done):
        _write_archives(rows(pages_path).repartition(files, "url"), out_dir, layouts, codec)
        with open(done, "w") as f:
            f.write("ok")
    return out_dir
