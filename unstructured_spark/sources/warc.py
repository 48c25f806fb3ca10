"""WARC / WET source (ISO 28500 Web ARChive) — the Common Crawl
ingestion format, and the shape a 100 TB training-data pipeline almost
always starts from: ``.warc.gz`` response archives and their ``.wet``
plain-text conversion siblings.

Beyond-reference surface (the reference partitions documents it is
handed; it has no archive source). Everything here is stdlib: WARC
framing is Content-Length-delimited header blocks over CRLF lines, and
Common Crawl's ``.warc.gz`` files are concatenations of per-record
gzip members, which ``zlib`` decompresses natively member-by-member.

Spark mapping
-------------
``spark.read.format("binaryFile")`` distributes one task per archive
(Common Crawl ships ~1 GiB gzip shards — the natural partition grain:
~100k files → ~100k independent tasks, zero shuffle anywhere in the
ingest). Each task streams records out of its archive inside
``mapInPandas`` (Arrow batches out; one record resident at a time
beyond the decompressed member). binaryFile caps a row at 2 GB —
for larger archives use :func:`read_warc_paths`: a paths table +
executor-side open (``sources.files.read_paths``) feeding the SAME
record assembler from a streaming file handle, so the archive bytes
never exist in memory at all.

Determinism: record order within an archive is preserved; all derived
columns are pure functions of the record bytes.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

WARC_SCHEMA = (
    "path string, record_id string, warc_type string, target_uri string,"
    " warc_date string, content_type string, http_status int,"
    " n_bytes bigint, text string, encoding string"
)

_GZIP_MAGIC = b"\x1f\x8b"

# WARC named headers are small; 1 MiB without a terminator means a
# torn/malformed header block, not a real record
_MAX_HEADER_BYTES = 1 << 20

# Sanity cap on an accepted Content-Length. A corrupt/overstated length
# would otherwise make the record assembler buffer the ENTIRE remaining
# decompressed archive waiting for bytes that never come (defeating the
# one-record resident-set guarantee) and, at end-of-stream, silently
# drop every valid record after the bad header — not just the torn
# tail. Beyond the cap the header is treated as unframed: resync past
# it and scan for the next record magic. 1 GiB comfortably exceeds any
# real crawl record (Common Crawl truncates payloads at 1 MiB) while
# keeping the buffer bound at "one plausible record", not "the shard".
_MAX_RECORD_BYTES = 1 << 30


def _iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Yield each gzip member of a concatenated stream (the Common
    Crawl .warc.gz layout: one member per record) decompressed, ONE at
    a time — the caller never holds the whole decompressed archive.
    A corrupt member or trailing garbage ends the stream after the
    bytes that decoded cleanly (torn archive loses the torn tail, not
    the task)."""
    # bounded-slice cursor, NOT `buf = d.unused_data` re-feeding: that
    # form hands the decompressor the ENTIRE remaining archive per
    # member and copies it back out as unused_data — O(members x
    # archive bytes) in copies, hours on a 50k-member Common Crawl
    # shard. Here every input byte is consumed exactly once.
    mv = memoryview(data)
    n = len(data)
    pos = 0
    step = 1 << 20
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        while True:
            end = min(pos + step, n)
            try:
                chunk = d.decompress(mv[pos:end])
            except zlib.error:
                return  # corrupt member / non-gzip padding: stop cleanly
            pos = end - len(d.unused_data)
            if chunk:
                yield chunk
            if d.eof:
                break
            if end >= n:
                return  # truncated final member: kept what decoded


def _iter_gzip_members_stream(
    chunks: Iterator[bytes], *, step: int = 1 << 20
) -> Iterator[bytes]:
    """Streaming twin of :func:`_iter_gzip_members`: decompress a
    concatenated gzip-member stream arriving as raw CHUNKS (e.g.
    file reads) instead of one in-memory blob. Same bounded-slice
    cursor discipline — every compressed byte is fed at most
    ceil(step / member_size) extra times (the re-fed ``unused_data``
    tail is capped at ``step``), never O(archive); resident set is one
    raw chunk + one ``step`` window + the decompressor state."""
    it = iter(chunks)
    buf = bytearray()
    pos = 0
    exhausted = False
    d = zlib.decompressobj(wbits=31)
    while True:
        if pos >= len(buf):
            if exhausted:
                return  # clean end, or truncated final member
            del buf[:pos]
            pos = 0
            try:
                buf += next(it)
            except StopIteration:
                exhausted = True
            continue
        end = min(pos + step, len(buf))
        mv = memoryview(buf)
        try:
            out = d.decompress(mv[pos:end])
        except zlib.error:
            return  # corrupt member / non-gzip padding: stop cleanly
        finally:
            mv.release()
        pos = end - len(d.unused_data)
        if out:
            yield out
        if d.eof:
            d = zlib.decompressobj(wbits=31)


def _iter_records_buffered(
    chunks: Iterator[bytes], *, max_record_bytes: int = _MAX_RECORD_BYTES
) -> Iterator[dict]:
    """Incremental record parser over a stream of decompressed chunks:
    keeps only the bytes of the record currently being assembled (plus
    one chunk) resident — this is what lets a 1 GiB .warc.gz shard
    stream through a task without materializing the multi-GiB
    decompressed archive. Tolerates LF-only header lines, missing
    trailing CRLFs, garbage between records (scan to the next
    ``WARC/`` magic), and a corrupt/overstated Content-Length (capped
    at ``max_record_bytes``; an over-cap header is resynced past like
    the unframed case, so one bad length can neither buffer the
    archive nor swallow subsequent valid records); a record torn at
    end-of-stream is dropped, not raised."""
    buf = bytearray()
    exhausted = False
    it = iter(chunks)
    while True:
        # parse as many complete records as the buffer holds
        pos = 0
        need_more_at = None
        while True:
            start = buf.find(b"WARC/", pos)
            if start < 0:
                # keep a tail in case the magic spans a chunk boundary
                pos = max(0, len(buf) - 4)
                break
            hdr_end = buf.find(b"\r\n\r\n", start)
            sep = 4
            # the LF-only fallback search is BOUNDED: to hdr_end when
            # the CRLF terminator exists (we only need to know which
            # comes first), else to a max-header-size window. An
            # unbounded find(b"\n\n") re-scanned the whole remaining
            # archive for EVERY CRLF-framed record (no \n\n anywhere in
            # \r\n-only data) — O(records x archive) bytes, measured as
            # a 35-minute stall on a 512x probe blob.
            alt_limit = hdr_end + 2 if hdr_end >= 0 else min(
                len(buf), start + _MAX_HEADER_BYTES
            )
            alt = buf.find(b"\n\n", start, alt_limit)
            if hdr_end < 0 or (0 <= alt < hdr_end):
                hdr_end, sep = alt, 2
            if hdr_end < 0:
                if len(buf) - start > _MAX_HEADER_BYTES:
                    # malformed giant header: resync past the magic so
                    # neither the scan nor the buffer grows unbounded
                    pos = start + 5
                    continue
                need_more_at = start
                break
            headers: dict[str, str] = {}
            head_lines = bytes(buf[start:hdr_end]).decode("utf-8", "replace")
            for line in head_lines.splitlines()[1:]:
                if ":" not in line:
                    continue
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
            try:
                length = int(headers.get("content-length", ""))
            except ValueError:
                pos = hdr_end + sep  # unframed: resync past the header
                continue
            if length < 0 or length > max_record_bytes:
                pos = hdr_end + sep  # implausible length: same resync
                continue
            body_start = hdr_end + sep
            if body_start + length > len(buf):
                if exhausted:
                    return  # torn final record: drop it
                need_more_at = start
                break
            # memoryview: one copy (view -> bytes), not two (bytearray
            # slice -> bytes); released immediately so the buffer can
            # keep resizing
            mv = memoryview(buf)
            payload = bytes(mv[body_start : body_start + length])
            mv.release()
            yield {"headers": headers, "payload": payload}
            pos = body_start + length
        if exhausted:
            return
        keep_from = pos if need_more_at is None else need_more_at
        del buf[:keep_from]
        try:
            buf += next(it)
        except StopIteration:
            exhausted = True


def iter_warc_records(
    data: bytes, *, max_record_bytes: int = _MAX_RECORD_BYTES
) -> Iterator[dict]:
    """Yield ``{"headers": {lower-name: value}, "payload": bytes}`` per
    WARC record in ``data``. Accepts plain or gzipped (multi-member)
    input; gzip members decompress ONE at a time (constant memory
    beyond the record being assembled). Garbage between records, a
    corrupt Content-Length (> ``max_record_bytes``), and a
    corrupt/truncated gzip tail lose the bad record, not the file."""
    if data[:2] == _GZIP_MAGIC:
        return _iter_records_buffered(
            _iter_gzip_members(data), max_record_bytes=max_record_bytes
        )
    return _iter_records_buffered(
        iter((data,)), max_record_bytes=max_record_bytes
    )


def _file_chunks(fh, chunk_bytes: int) -> Iterator[bytes]:
    while True:
        b = fh.read(chunk_bytes)
        if not b:
            return
        yield b


def iter_warc_records_stream(
    fh,
    *,
    chunk_bytes: int = 1 << 20,
    max_record_bytes: int = _MAX_RECORD_BYTES,
) -> Iterator[dict]:
    """File-handle twin of :func:`iter_warc_records`: stream records
    out of an OPEN binary file object without ever materializing the
    archive bytes — the executor-side-open path that removes the
    binaryFile 2 GB row cap entirely. Resident set: one raw chunk +
    the record currently being assembled (+ one gzip window when the
    archive is member-compressed). Accepts plain or .warc.gz input,
    sniffed from the first two bytes."""
    first = fh.read(chunk_bytes)
    if not first:
        return iter(())
    import itertools

    chunks: Iterator[bytes] = itertools.chain(
        (first,), _file_chunks(fh, chunk_bytes)
    )
    if first[:2] == _GZIP_MAGIC:
        chunks = _iter_gzip_members_stream(chunks)
    return _iter_records_buffered(chunks, max_record_bytes=max_record_bytes)


def _split_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) for an HTTP response payload;
    (None, None, payload) if it isn't one."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    for sep in (b"\r\n\r\n", b"\n\n"):
        cut = payload.find(sep)
        if cut >= 0:
            head = payload[:cut].decode("utf-8", "replace")
            body = payload[cut + len(sep) :]
            break
    else:
        return None, None, payload
    lines = head.splitlines()
    try:
        status: int | None = int(lines[0].split()[1])
    except (IndexError, ValueError):
        status = None
    ctype = None
    for line in lines[1:]:
        if line.lower().startswith("content-type:"):
            ctype = line.split(":", 1)[1].strip()
            break
    return status, ctype, body


_TEXTUAL_TYPES = ("text/", "application/json", "application/xhtml")


_CHARSET_PARAM = re.compile(rb"charset\s*=\s*[\"']?([\w.:\-]+)", re.I)
_META_CHARSET = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?([\w.:\-]+)", re.I
)

#: encoding-label aliases (WHATWG-ish subset): crawled pages declare
#: these spellings constantly; everything else goes through Python's
#: own codec alias table
_ENC_ALIASES = {
    "iso-8859-1": "latin-1",
    "iso8859-1": "latin-1",
    "latin1": "latin-1",
    "l1": "latin-1",
    "win-1252": "cp1252",
    "windows-1252": "cp1252",
    "x-sjis": "shift_jis",
    "unicode-1-1-utf-8": "utf-8",
    "utf8": "utf-8",
}


def _decode_payload(body: bytes, declared: str | None) -> tuple[str, str]:
    """(text, encoding_used) for a textual payload — the real-crawl
    decode ladder (Common Crawl response bodies are NOT all UTF-8):

    1. a BOM wins outright (UTF-8 / UTF-16 LE/BE);
    2. the Content-Type ``charset=`` parameter, if the codec exists;
    3. an HTML ``<meta charset>`` / http-equiv declaration in the
       first 1024 bytes;
    4. strict UTF-8;
    5. cp1252 (the web's de-facto latin-1 superset — never fails,
       every byte maps).

    A declared/sniffed codec that raises falls through to the next
    rung, so a lying charset header degrades to the fallback instead
    of corrupting the decode with 'replace' noise."""
    if body.startswith(b"\xef\xbb\xbf"):
        return body[3:].decode("utf-8", "replace"), "utf-8"
    if body.startswith(b"\xff\xfe"):
        # the endian-agnostic codec consumes the BOM
        return body.decode("utf-16", "replace"), "utf-16-le"
    if body.startswith(b"\xfe\xff"):
        return body.decode("utf-16", "replace"), "utf-16-be"
    candidates: list[str] = []
    if declared:
        candidates.append(declared)
    m = _META_CHARSET.search(body[:1024])
    if m:
        candidates.append(m.group(1).decode("ascii", "ignore"))
    for raw in candidates:
        name = _ENC_ALIASES.get(raw.strip().lower(), raw.strip().lower())
        try:
            return body.decode(name), name
        except (LookupError, ValueError):
            continue
    try:
        return body.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        return body.decode("cp1252", "replace"), "cp1252"


def _record_row(path: str, rec: dict) -> dict:
    h = rec["headers"]
    payload = rec["payload"]
    # HTTP envelope parsing is gated on the record's own content type
    # (Common Crawl response/request records carry application/http):
    # a WET conversion record whose TEXT happens to start with "HTTP/"
    # must pass through byte-exact, not lose a fake "header block".
    rec_ctype = (h.get("content-type") or "").lower()
    if rec_ctype.startswith("application/http"):
        http_status, http_ctype, body = _split_http(payload)
    else:
        http_status, http_ctype, body = None, None, payload
    full_ctype = http_ctype or h.get("content-type") or ""
    ctype = full_ctype.split(";")[0].strip().lower()
    text = None
    encoding = None
    if not ctype or any(ctype.startswith(t) for t in _TEXTUAL_TYPES):
        cm = _CHARSET_PARAM.search(full_ctype.encode("ascii", "ignore"))
        declared = cm.group(1).decode("ascii", "ignore") if cm else None
        text, encoding = _decode_payload(body, declared)
    return {
        "path": path,
        "record_id": h.get("warc-record-id"),
        "warc_type": h.get("warc-type"),
        "target_uri": h.get("warc-target-uri"),
        "warc_date": h.get("warc-date"),
        "content_type": ctype or None,
        "http_status": http_status,
        "n_bytes": len(body),
        "text": text,
        "encoding": encoding,
    }


def parse_warc(
    archives: DataFrame,
    *,
    path_col: str = "path",
    content_col: str = "content",
    record_types: tuple[str, ...] | None = None,
) -> DataFrame:
    """Explode a (path, content) archive DataFrame into one row per
    WARC record (``WARC_SCHEMA``). ``record_types`` filters by
    WARC-Type (e.g. ``("response", "conversion")``); None keeps all
    (request/metadata/warcinfo included).

    Scale shape: map-only — each input archive row expands in place
    inside mapInPandas; records stream out in bounded Arrow batches
    (~512 rows), and gzip members decompress one at a time, so the
    task's resident set is one record + one member, never the
    decompressed archive (a ~1 GiB Common Crawl shard inflates 4-5×;
    32 concurrent whole-archive buffers would OOM the executor).
    Filters on the output columns are evaluated post-expansion but the
    per-file task never shuffles.
    """
    import pandas as pd

    wanted = tuple(t.lower() for t in record_types) if record_types else None
    src = archives.select(path_col, content_col)
    cols = [
        "path", "record_id", "warc_type", "target_uri",
        "warc_date", "content_type", "http_status", "n_bytes", "text",
        "encoding",
    ]
    flush_every = 512

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: list[dict] = []
        for pdf in batches:
            for path, content in zip(pdf[path_col], pdf[content_col]):
                for rec in iter_warc_records(bytes(content)):
                    row = _record_row(path, rec)
                    if wanted and (row["warc_type"] or "").lower() not in wanted:
                        continue
                    rows.append(row)
                    if len(rows) >= flush_every:
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
        yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(expand, WARC_SCHEMA)


def read_warc(
    spark: SparkSession,
    path: str,
    *,
    glob: str = "*.warc*",
    recursive: bool = True,
    record_types: tuple[str, ...] | None = ("response", "conversion"),
) -> DataFrame:
    """Distributed WARC/WET ingest: one binaryFile task per archive →
    one output row per (response/conversion) record."""
    reader = spark.read.format("binaryFile").option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return parse_warc(reader.load(path), record_types=record_types)


def read_warc_paths(
    paths: DataFrame,
    *,
    path_col: str = "path",
    tasks: int | None = None,
    opener=None,
    record_types: tuple[str, ...] | None = ("response", "conversion"),
    chunk_bytes: int = 1 << 20,
) -> DataFrame:
    """Paths-table WARC ingest — the 100 TB shape. ``paths`` is any
    DataFrame with a column of archive paths (e.g. Common Crawl's
    ``warc.paths`` manifest staged as parquet, or
    ``sources.files.paths_table``); each path is opened ON THE
    EXECUTOR and records stream out of :func:`iter_warc_records_stream`
    straight into Arrow batches. Unlike :func:`read_warc`, archive
    bytes never ride a DataFrame row: no 2 GB binaryFile cap, no
    double-buffered whole-file materialization — resident set per task
    is one read chunk + the record being assembled. ``opener`` plugs
    remote filesystems (fsspec ``open(path, "rb")`` contract); default
    handles local paths and file:// URIs.

    Scale shape: map-only, one task per archive after the ``tasks``
    rebalance (set ~4x total cores for a 100k-shard manifest so the
    single-split manifest parquet doesn't serialize opens), zero
    shuffle anywhere in the ingest."""
    from unstructured_spark.sources.files import open_path, read_paths

    opn = opener or open_path
    wanted = tuple(t.lower() for t in record_types) if record_types else None

    def expand(path: str) -> Iterator[dict]:
        with opn(path) as fh:
            for rec in iter_warc_records_stream(fh, chunk_bytes=chunk_bytes):
                row = _record_row(path, rec)
                if wanted and (row["warc_type"] or "").lower() not in wanted:
                    continue
                yield row

    return read_paths(
        paths, expand, WARC_SCHEMA, path_col=path_col, tasks=tasks
    )


def build_warc_bytes(
    records: list[dict],
    *,
    gzip_per_record: bool = False,
) -> bytes:
    """Serialize records (dicts with ``warc_type``, ``target_uri``,
    ``payload`` bytes, optional ``record_id``/``date``/``content_type``)
    into WARC bytes — fixture/synthesis helper, also the round-trip
    twin the in-engine ingest query builds JVM-side. With
    ``gzip_per_record`` each record becomes its own gzip member, the
    Common Crawl .warc.gz layout."""
    import gzip as _gzip

    out = []
    for i, r in enumerate(records):
        payload = r["payload"]
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: {r['warc_type']}\r\n"
            f"WARC-Target-URI: {r['target_uri']}\r\n"
            f"WARC-Date: {r.get('date', '2024-01-01T00:00:00Z')}\r\n"
            f"WARC-Record-ID: {r.get('record_id', f'<urn:rec:{i}>')}\r\n"
            f"Content-Type: {r.get('content_type', 'text/plain')}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode("utf-8")
        rec = head + payload + b"\r\n\r\n"
        out.append(_gzip.compress(rec) if gzip_per_record else rec)
    return b"".join(out)
