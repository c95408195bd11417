"""WARC ingestion: Common-Crawl-style containers -> the ``pages`` table.

The engine's input contract (BASELINE.json ``input_hint``) is an Iceberg
table ``(url, warc_ts, html, text, lang)`` of Common-Crawl-style pages.
Raw Common Crawl is not a table — it is WARC/1.0 containers (ISO 28500):
~1 GB ``.warc.gz`` files where EVERY record is its own gzip member, plus a
CDX index of ``(warc_file, offset, length)`` per capture enabling random
access. This module is the ingest seam that builds the table:

* ``read_warc(spark, path)``   — whole-container scan: ``binaryFile``
  datasource -> ONE ``mapInPandas`` stage that splits gzip members,
  parses WARC record headers, keeps ``WARC-Type: response``, and decodes
  the captured HTTP response (status line, headers, chunked
  transfer-encoding, gzip/deflate content-encoding). Zero shuffles: the
  plan is scan -> Arrow stage -> (whatever the caller does next). Per
  RECORD failure isolation — a malformed record yields an ``error`` row,
  never a failed task (the reference's per-page fallback discipline,
  usecase/translate_pdf.py:114-125).
* ``read_warc_offsets(spark, cdx)`` — the CDX random-access path: given
  the index table, each task seeks to ``offset`` and inflates exactly one
  member. This is how production backfills re-read a url subset without
  rescanning petabytes of container bytes.
* ``warc_pages(df)``            — project either reader's output to the
  canonical ``PAGES_SCHEMA`` (``text``/``lang`` NULL — extraction and
  langid fill them downstream).

Reference tie: the reference's ingest is path -> bytes -> analyze
(adapters/infra/azure/azure_client.py:52-62 reads ``open(path,'rb')`` and
posts the bytes); here the same path->bytes step is grafted onto the
container format the 10^12-document corpus actually ships in.

Scale notes (100 TB):
* ``binaryFile`` materializes one whole container per input row — sized
  for the CC convention (~1 GB gz) this is fine on 4-8 GB executors, and
  the gzip-member framing means NO splittable-codec problem inside the
  stage (members inflate independently). Parallelism = number of
  container files (a 100 TB crawl is ~10^5 files), far above any
  realistic executor count.
* The CDX path repartitions by ``warc_file`` so one task opens one
  container once, reads its members in offset order (sequential-ish IO),
  and never inflates bytes outside the requested ranges.
* All decode work is stdlib ``zlib`` inside the Arrow stage — no
  row-at-a-time Python UDF, no JVM<->Python chatter beyond the batches.

Test gate (no SQL form — DuckDB cannot gunzip): byte-identity against the
pure-Python twin (``parse_warc_stream`` is BOTH the Spark kernel and the
test oracle), hostile-container fuzz, and the round-trip
``pages -> build_warc_gz -> read_warc -> extract`` equals
``pages -> extract`` per url (tests/test_warc.py).
"""

from __future__ import annotations

import datetime as _dt
import gzip
import hashlib
import io
import zlib
from typing import Dict, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import PAGES_SCHEMA

CRLF = b"\r\n"

# output of both readers — one row per WARC *response* record
WARC_RECORDS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("http_status", T.IntegerType(), True),
    T.StructField("mime", T.StringType(), True),
    T.StructField("warc_file", T.StringType(), False),
    T.StructField("warc_offset", T.LongType(), False),
    T.StructField("warc_length", T.LongType(), False),
    T.StructField("payload_sha256", T.StringType(), True),
    T.StructField("error", T.StringType(), True),
])

# CDX index rows produced by build_cdx / consumed by read_warc_offsets
CDX_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("warc_file", T.StringType(), False),
    T.StructField("warc_offset", T.LongType(), False),
    T.StructField("warc_length", T.LongType(), False),
])


# -- pure-Python core (Spark kernel AND test oracle) -------------------------

_FEED_CHUNK = 1 << 20  # 1 MiB decompressor feed — keeps memcpy linear


def split_gzip_members(data: bytes) -> Iterator[Tuple[bytes, int, int]]:
    """Yield ``(inflated, offset, compressed_length)`` per gzip member.

    Common Crawl writes one record per member precisely so readers can
    re-frame without a splittable codec; ``zlib.decompressobj(wbits=31)``
    stops at each member boundary and hands back the remainder in
    ``unused_data``. The decompressor is fed fixed-size chunks — slicing
    ``data[pos:]`` per member would copy the whole remaining container
    every iteration, turning a 1 GB / 10^4-member scan quadratic. A
    truncated trailing member raises ``ValueError`` (the caller records
    it as one error row, not a task failure).
    """
    pos = 0
    n = len(data)
    carry = b""  # sliced-but-unconsumed tail handed to the next member —
    #              without it a container of many small members re-slices
    #              (and re-discards) ~a full chunk per member
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        out = io.BytesIO()
        cur = pos + len(carry)
        try:
            if carry:
                out.write(d.decompress(carry))
            while cur < n and not d.eof:
                out.write(d.decompress(data[cur:cur + _FEED_CHUNK]))
                cur += _FEED_CHUNK
        except zlib.error as e:
            raise ValueError(f"bad gzip member at offset {pos}: {e}")
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        end = min(cur, n) - len(d.unused_data)
        if end <= pos:  # zero-progress guard (cannot happen on valid gzip)
            raise ValueError(f"empty gzip member at offset {pos}")
        yield out.getvalue(), pos, end - pos
        carry = d.unused_data
        pos = end


def _parse_headers(blob: bytes) -> Tuple[Dict[str, str], bytes]:
    """Parse a CRLF (LF tolerated) header block; return (headers, rest).

    Keys lower-cased; duplicate keys keep the FIRST value (WARC named
    fields are single-valued; for HTTP the first Content-Type wins, which
    matches what crawlers recorded).
    """
    sep = blob.find(b"\r\n\r\n")
    seplen = 4
    lf = blob.find(b"\n\n")
    if sep == -1 or (lf != -1 and lf < sep):
        sep, seplen = lf, 2
    if sep == -1:
        raise ValueError("no header terminator")
    headers: Dict[str, str] = {}
    for line in blob[:sep].splitlines():
        if b":" in line:
            k, v = line.split(b":", 1)
            key = k.strip().decode("latin-1").lower()
            headers.setdefault(key, v.strip().decode("latin-1"))
    return headers, blob[sep + seplen:]


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer-encoding; strict, raises on rot."""
    out = io.BytesIO()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl == -1:
            raise ValueError("chunked: missing size line")
        size_tok = body[pos:nl].split(b";")[0].strip()
        try:
            size = int(size_tok, 16)
        except Exception:
            raise ValueError(f"chunked: bad size {size_tok[:16]!r}")
        pos = nl + 2
        if size == 0:
            return out.getvalue()  # trailers (if any) discarded
        if pos + size > len(body):
            raise ValueError("chunked: chunk overruns body")
        out.write(body[pos:pos + size])
        pos += size
        if body[pos:pos + 2] != CRLF:
            raise ValueError("chunked: missing chunk terminator")
        pos += 2


def _decode_http_response(block: bytes) -> Tuple[int, str, bytes]:
    """Captured HTTP response bytes -> (status, mime, payload bytes).

    De-chunks ``Transfer-Encoding: chunked`` and inflates
    ``Content-Encoding: gzip|deflate`` — crawlers store the wire bytes,
    so both appear constantly in real WARCs.
    """
    status_end = block.find(b"\n")
    if status_end == -1 or not block[:5].upper().startswith(b"HTTP/"):
        raise ValueError("not an HTTP response block")
    status_line = block[:status_end].strip().decode("latin-1", "replace")
    parts = status_line.split()
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        raise ValueError(f"bad status line {status_line[:40]!r}")
    headers, body = _parse_headers(block)
    if headers.get("transfer-encoding", "").lower() == "chunked":
        body = _dechunk(body)
    enc = headers.get("content-encoding", "").lower()
    if enc in ("gzip", "x-gzip"):
        body = _gunzip_members(body)
    elif enc == "deflate":
        try:
            body = zlib.decompress(body)          # RFC-correct zlib wrapper
        except zlib.error:
            body = zlib.decompress(body, wbits=-15)  # bare-deflate servers
    mime = headers.get("content-type", "").split(";")[0].strip().lower()
    return status, mime, body


def _gunzip_members(body: bytes) -> bytes:
    """Inflate a gzip-encoded HTTP payload: loops CONCATENATED members
    (flushed streaming responses emit them — a single-member inflate
    silently truncates with no error flag) but, unlike
    ``gzip.decompress``, tolerates trailing non-gzip bytes after the
    last member (CRLF padding counted into Content-Length is common in
    real captures and was decodable before the multi-member fix)."""
    out = io.BytesIO()
    pos, n = 0, len(body)
    first = True
    while body[pos:pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        out.write(d.decompress(body[pos:]))
        if not d.eof:
            raise ValueError("truncated gzip payload")
        pos = n - len(d.unused_data)
        first = False
    if first:
        raise ValueError("payload is not gzip")
    return out.getvalue()


def _warc_date(v: Optional[str]) -> Optional[_dt.datetime]:
    if not v:
        return None
    # WARC 1.1 permits fractional seconds (warcio/wget2 emit them)
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return _dt.datetime.strptime(v.strip(), fmt).replace(
                tzinfo=_dt.timezone.utc)
        except ValueError:
            continue
    return None


def _parse_member(member: bytes, warc_file: str, offset: int,
                  length: int,
                  want: Tuple[str, ...] = ("response",)) -> Optional[dict]:
    """One inflated WARC record -> one output dict, or None to skip.

    Skips (returns None): record types not in ``want`` (warcinfo /
    request / metadata / revisit ... — the normal majority of a
    container). ``response`` records decode their captured HTTP
    envelope; ``conversion`` records (the WET convention) carry the
    payload directly in the record block. Errors (malformed record that
    CLAIMED a wanted type) come back as a row with ``error`` set and
    the raw block preserved in ``html`` so no capture is silently lost.
    """
    row = {
        "url": None, "warc_ts": None, "html": None, "http_status": None,
        "mime": None, "warc_file": warc_file, "warc_offset": offset,
        "warc_length": length, "payload_sha256": None, "error": None,
    }
    try:
        if not member.startswith(b"WARC/"):
            raise ValueError("missing WARC/ version line")
        headers, rest = _parse_headers(member)
        rectype = headers.get("warc-type", "").lower()
        if rectype not in want:
            return None
        row["url"] = headers.get("warc-target-uri")
        row["warc_ts"] = _warc_date(headers.get("warc-date"))
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("missing/bad Content-Length")
        if clen < 0:
            raise ValueError("negative Content-Length")
        if clen > len(rest):
            raise ValueError("record block overruns member")
        block = rest[:clen]
        if rectype == "conversion":  # WET: the block IS the payload
            row.update(
                html=block,
                mime=headers.get("content-type", "").split(";")[0].strip()
                .lower() or None,
                payload_sha256=hashlib.sha256(block).hexdigest())
            return row
        status, mime, payload = _decode_http_response(block)
        row.update(
            html=payload, http_status=status, mime=mime or None,
            payload_sha256=hashlib.sha256(payload).hexdigest())
        return row
    except (ValueError, zlib.error, EOFError, OSError) as e:
        row["error"] = str(e)
        if row["html"] is None:
            row["html"] = member  # preserve the capture for forensics
        return row


def parse_warc_stream(data: bytes, warc_file: str,
                      want: Tuple[str, ...] = ("response",)) -> List[dict]:
    """Whole container -> list of record dicts (the test-oracle form of
    :func:`iter_warc_stream`)."""
    return list(iter_warc_stream(data, warc_file, want))


def _iter_member_frames(data: bytes) -> Iterator[tuple]:
    """The ONE container-framing walk both readers share: yields
    ``("member", bytes, offset, length, None)`` per record frame, and on
    a framing failure ONE ``("tail", None, offset, length, errmsg)``
    then stops (gz tail: offset/length -1; uncompressed tail: the
    failing position). Factoring this out is what keeps the full parser
    (:func:`iter_warc_stream`) and the headers-only indexer
    (:func:`iter_warc_index`) byte-identical on framing by
    CONSTRUCTION — the fuzz gates police the member handlers only, not
    two copies of the walk."""
    if data[:2] == b"\x1f\x8b":
        try:
            for member, off, ln in split_gzip_members(data):
                yield ("member", member, off, ln, None)
        except ValueError as e:
            yield ("tail", None, -1, -1, str(e))
        return
    # uncompressed .warc: records are delimited by Content-Length + CRLFx2
    pos, n = 0, len(data)
    while pos < n:
        if data[pos:pos + 1] in (b"\r", b"\n"):  # stray blank inter-record
            pos += 1
            continue
        try:
            hdr_end = data.find(b"\r\n\r\n", pos)
            seplen = 4
            lf = data.find(b"\n\n", pos)
            if hdr_end == -1 or (lf != -1 and lf < hdr_end):
                hdr_end, seplen = lf, 2
            if hdr_end == -1:
                raise ValueError("no header terminator")
            headers, _ = _parse_headers(data[pos:hdr_end + seplen])
            clen = int(headers["content-length"])
            end = hdr_end + seplen + clen
            if clen < 0 or end <= pos:  # forward-progress guard
                raise ValueError("negative Content-Length")
        except (ValueError, KeyError) as e:
            yield ("tail", None, pos, -1, str(e))
            return
        yield ("member", data[pos:end], pos, end - pos, None)
        pos = end
        while data[pos:pos + 2] == CRLF or data[pos:pos + 1] == b"\n":
            pos += 2 if data[pos:pos + 2] == CRLF else 1


def iter_warc_stream(data: bytes, warc_file: str,
                     want: Tuple[str, ...] = ("response",)) \
        -> Iterator[dict]:
    """Whole container (gz OR plain ``.warc``) -> record dicts, lazily.

    This is the shared kernel: the Spark stage consumes it in bounded
    batches (one inflated container must never sit in memory as a whole
    row list), the tests call the list form as the oracle twin. A
    container whose gzip framing itself is broken yields ONE error row
    for the tail (all members before the corruption still parse).
    """
    for kind, member, off, ln, err in _iter_member_frames(data):
        if kind == "tail":
            yield {
                "url": None, "warc_ts": None, "html": None,
                "http_status": None, "mime": None, "warc_file": warc_file,
                "warc_offset": off, "warc_length": ln,
                "payload_sha256": None, "error": f"container: {err}"}
            return
        # _parse_member must not raise: every malformed-record failure
        # (ValueError, zlib.error, EOFError, OSError) comes back as an
        # error row, so one bad record never aborts the rest of the
        # container. read_warc's batches and read_warc_offsets rely on
        # it; _index_member keeps the same contract for iter_warc_index.
        r = _parse_member(member, warc_file, off, ln, want)
        if r is not None:
            yield r


# -- deterministic writer (tests, round-trips, synthetic fixtures) -----------

def build_warc_gz(records: List[dict], warcinfo: str = "ocr_module_spark",
                  compress: bool = True) -> Tuple[bytes, List[dict]]:
    """Records ``{url, warc_ts, html, [status], [mime], [chunked],
    [content_encoding]}`` -> (container bytes, cdx rows).

    One gzip member per record (the CC convention; ``mtime=0`` so output
    is byte-deterministic), warcinfo first. Returns the CDX index built
    WHILE writing — offset/length per member — exactly what
    ``read_warc_offsets`` consumes.
    """
    out = io.BytesIO()
    cdx: List[dict] = []

    def emit(rec: bytes) -> Tuple[int, int]:
        blob = gzip.compress(rec, mtime=0) if compress else rec
        off = out.tell()
        out.write(blob)
        return off, len(blob)

    info_body = f"software: {warcinfo}\r\n".encode()
    emit(_warc_record("warcinfo", None, None, info_body,
                      ctype="application/warc-fields"))
    for r in records:
        payload = r["html"] if isinstance(r["html"], bytes) \
            else str(r["html"]).encode()
        status = int(r.get("status", 200))
        mime = r.get("mime", "text/html")
        body = payload
        hdrs = [f"Content-Type: {mime}"]
        if r.get("content_encoding") == "gzip":
            body = gzip.compress(body, mtime=0)
            hdrs.append("Content-Encoding: gzip")
        if r.get("chunked"):
            body = _enchunk(body)
            hdrs.append("Transfer-Encoding: chunked")
        else:
            hdrs.append(f"Content-Length: {len(body)}")
        http = (f"HTTP/1.1 {status} OK\r\n" + "\r\n".join(hdrs)
                + "\r\n\r\n").encode() + body
        ts = r.get("warc_ts")
        tss = ts.strftime("%Y-%m-%dT%H:%M:%SZ") if ts is not None else None
        off, ln = emit(_warc_record("response", r["url"], tss, http))
        cdx.append({"url": r["url"], "warc_offset": off, "warc_length": ln})
    return out.getvalue(), cdx


def _warc_record(rectype: str, uri: Optional[str], date: Optional[str],
                 block: bytes,
                 ctype: str = "application/http; msgtype=response") -> bytes:
    lines = [b"WARC/1.0",
             f"WARC-Type: {rectype}".encode(),
             f"WARC-Date: {date or '2024-01-01T00:00:00Z'}".encode(),
             f"Content-Type: {ctype}".encode(),
             f"Content-Length: {len(block)}".encode()]
    if uri:
        lines.insert(2, f"WARC-Target-URI: {uri}".encode())
    return CRLF.join(lines) + CRLF + CRLF + block + CRLF + CRLF


def _enchunk(body: bytes, size: int = 100) -> bytes:
    out = io.BytesIO()
    for i in range(0, len(body), size):
        chunk = body[i:i + size]
        out.write(f"{len(chunk):x}".encode() + CRLF + chunk + CRLF)
    out.write(b"0" + CRLF + CRLF)
    return out.getvalue()


# -- Spark operators ----------------------------------------------------------

def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Container scan: ``binaryFile`` -> one Arrow stage -> record rows.

    Zero exchanges (plan-asserted, tests/test_warc.py): parallelism is
    per-container-file, and a 100 TB crawl has ~10^5 containers. Column
    pruning still applies downstream — but note the stage necessarily
    inflates every member, so url-subset backfills should use
    ``read_warc_offsets`` instead.
    """
    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")
    return files.mapInPandas(_stream_records("response"),
                             WARC_RECORDS_SCHEMA)


_BATCH_RECORDS = 1024  # Arrow batch bound: never one whole container


def _stream_records(*want: str):
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                buf: List[dict] = []
                for r in iter_warc_stream(bytes(content), fpath, want):
                    buf.append(r)
                    if len(buf) >= _BATCH_RECORDS:
                        yield _records_pdf(buf)
                        buf = []
                if buf:
                    yield _records_pdf(buf)
    return gen


def read_warc_offsets(spark: SparkSession, cdx: DataFrame) -> DataFrame:
    """CDX random access: seek each ``(warc_file, offset)``, inflate ONE
    member, parse ONE record.

    Repartitioned by ``warc_file`` so a task opens each container once
    and walks its requested members in offset order (sequential-ish IO on
    object stores that serve range reads). The whole-container bytes are
    never read — this is the petabyte-scale backfill path.
    """
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: List[dict] = []  # flushed at _BATCH_RECORDS, same bounded-
        #                        batch discipline as the container scan
        for pdf in it:
            for grp in pdf.groupby("warc_file", sort=False):
                fname, g = grp
                g = g.sort_values("warc_offset")
                try:
                    fh = open(_fs_path(fname), "rb")
                except OSError as e:
                    rows.extend({
                        "url": u, "warc_ts": None, "html": None,
                        "http_status": None, "mime": None,
                        "warc_file": fname, "warc_offset": int(o),
                        "warc_length": int(ln), "payload_sha256": None,
                        "error": f"open: {e}"}
                        for u, o, ln in zip(g["url"], g["warc_offset"],
                                            g["warc_length"]))
                    continue
                with fh:
                    for u, off, ln in zip(g["url"], g["warc_offset"],
                                          g["warc_length"]):
                        if int(off) < 0 or int(ln) < 0:
                            # index_warc's truncated-tail marker (or a
                            # hand-built bad row): an error row, never a
                            # seek crash — per-record failure isolation.
                            # The CDX row's url rides along when known,
                            # so an ingest audit can attribute the loss
                            rows.append({
                                "url": None if u is None else str(u),
                                "warc_ts": None,
                                "html": None, "http_status": None,
                                "mime": None, "warc_file": fname,
                                "warc_offset": int(off),
                                "warc_length": int(ln),
                                "payload_sha256": None,
                                "error": "container: unindexable tail "
                                         "marker (offset/length < 0)"})
                            continue
                        fh.seek(int(off))
                        blob = fh.read(int(ln))
                        try:
                            member = gzip.decompress(blob) \
                                if blob[:2] == b"\x1f\x8b" else blob
                            r = _parse_member(member, fname, int(off),
                                              int(ln))
                        except (ValueError, OSError, zlib.error,
                                EOFError) as e:
                            r = {"url": None, "warc_ts": None, "html": blob,
                                 "http_status": None, "mime": None,
                                 "warc_file": fname, "warc_offset": int(off),
                                 "warc_length": int(ln),
                                 "payload_sha256": None,
                                 "error": f"member: {e}"}
                        if r is not None:
                            rows.append(r)
                        if len(rows) >= _BATCH_RECORDS:
                            yield _records_pdf(rows)
                            rows = []
                if len(rows) >= _BATCH_RECORDS:
                    yield _records_pdf(rows)
                    rows = []
        if rows:
            yield _records_pdf(rows)

    return cdx.repartition("warc_file").mapInPandas(gen, WARC_RECORDS_SCHEMA)


def _fs_path(fname: str) -> str:
    """binaryFile reports Hadoop URIs (``file:/...``); a CDX built from
    scan output must still open with plain ``open()`` — strip the
    local-scheme prefix (object-store URIs are the deployment's fs
    client seam and pass through untouched)."""
    if fname.startswith("file:"):
        from urllib.parse import unquote
        rest = fname[len("file:"):]
        # scheme-strip by hand: urlparse would truncate at an unencoded
        # '#' or '?' in a hand-built CDX path (scan-derived URIs are
        # percent-encoded, arbitrary CDX strings are not)
        if rest.startswith("///"):
            rest = rest[2:]
        elif rest.startswith("//"):
            rest = rest[1:]
        return unquote(rest)
    return fname


def _records_pdf(rows: List[dict]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=[f.name for f in
                                      WARC_RECORDS_SCHEMA.fields])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True)
    for c in ("http_status",):
        pdf[c] = pdf[c].astype("Int32")
    for c in ("warc_offset", "warc_length"):
        pdf[c] = pdf[c].astype("int64")
    return pdf


def warc_pages(records: DataFrame, ok_only: bool = True) -> DataFrame:
    """Record rows -> the canonical ``PAGES_SCHEMA`` table.

    ``ok_only`` keeps HTTP 200 text/html captures that parsed cleanly —
    the rows extraction can act on; pass ``False`` to keep everything
    (errors carry NULL url and are the ingest-audit residue). ``text``
    and ``lang`` are NULL by contract: extraction (pipeline.extract) and
    langid (functions/langid) fill them downstream.
    """
    df = records
    if ok_only:
        df = df.where(
            F.col("error").isNull() & (F.col("http_status") == 200)
            & (F.col("mime") == "text/html") & F.col("url").isNotNull())
    return df.select(
        "url", "warc_ts", "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"))


def write_wet(df: DataFrame, out_dir: str, n_files: int = 0) -> dict:
    """Extracted text -> WET-style containers (WARC ``conversion``
    records, one gzip member each — the Common Crawl WET convention).

    ``df`` needs (url, text) and optionally warc_ts. Each task writes
    ONE ``part-<pid>.warc.wet.gz`` under ``out_dir`` plus the driver
    writes a ``manifest`` parquet (wet_file, n_records, n_bytes).
    Output is byte-deterministic: hash-repartition on url, in-task url
    sort, ``mtime=0`` gzip members — two runs over the same frame emit
    identical files (test-pinned), so a WET export is resumable by
    simply re-running it.

    Filesystem seam: members stream to ``open(path)`` — local/NFS in
    the sandbox; an object-store deployment swaps in its fs client at
    this one call site (same seam as the shard writer's loader files).
    ``n_files`` dials the container count (0 = keep the frame's
    partitioning); size it so containers land near the CC-conventional
    ~1 GB.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    # timestamps cross into pandas as SESSION-timezone-naive datetimes;
    # formatting those with a literal 'Z' would stamp local wall time as
    # UTC on any non-UTC session. Epoch seconds are timezone-free.
    src = df.select(
        "url",
        F.unix_timestamp(
            df["warc_ts"] if "warc_ts" in df.columns
            else F.lit(None).cast("timestamp")).alias("ts_unix"),
        "text")
    if n_files > 0:
        src = src.repartition(n_files, "url")
    src = src.sortWithinPartitions("url")

    acc_schema = T.StructType([
        T.StructField("wet_file", T.StringType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ])

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.wet.gz")
        n, fh = 0, None
        for pdf in it:
            if fh is None:
                fh = open(path, "wb")
                fh.write(gzip.compress(_warc_record(
                    "warcinfo", None, None,
                    b"software: ocr_module_spark wet sink\r\n",
                    ctype="application/warc-fields"), mtime=0))
            for url, ts, text in zip(pdf["url"], pdf["ts_unix"],
                                     pdf["text"]):
                body = ("" if text is None else str(text)).encode("utf-8")
                tss = None if pd.isnull(ts) else _dt.datetime.fromtimestamp(
                    int(ts), tz=_dt.timezone.utc).strftime(
                        "%Y-%m-%dT%H:%M:%SZ")
                fh.write(gzip.compress(_warc_record(
                    "conversion", url, tss, body, ctype="text/plain"),
                    mtime=0))
                n += 1
        if fh is None:
            return
        fh.close()
        yield pd.DataFrame(
            [{"wet_file": path, "n_records": n,
              "n_bytes": os.path.getsize(path)}])

    # driver collect bound: one row per WET file written
    manifest = src.mapInPandas(gen, acc_schema).collect()
    spark = df.sparkSession
    spark.createDataFrame(manifest or [], acc_schema) \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(out_dir, "manifest"))
    return {"wet_files": len(manifest),
            "records": int(sum(r["n_records"] for r in manifest)),
            "bytes": int(sum(r["n_bytes"] for r in manifest))}


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET containers -> (url, warc_ts, text). The read twin of
    :func:`write_wet`; same zero-exchange scan shape as
    :func:`read_warc`."""
    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    recs = files.mapInPandas(_stream_records("conversion"),
                             WARC_RECORDS_SCHEMA)
    return recs.where(F.col("error").isNull()).select(
        "url", "warc_ts",
        F.col("html").cast("string").alias("text"))


def build_cdx(spark: SparkSession, warc_file: str,
              cdx_rows: List[dict]) -> DataFrame:
    """CDX rows from ``build_warc_gz`` -> a DataFrame for the offsets
    reader (production reads the crawl-provided cdx.gz instead; for a
    foreign container with NO index, :func:`index_warc` builds one
    in-engine)."""
    return spark.createDataFrame(
        [(r["url"], warc_file, r["warc_offset"], r["warc_length"])
         for r in cdx_rows], CDX_SCHEMA)


# -- in-engine CDX indexer (foreign, index-less containers) ------------------

def _index_member(member: bytes, warc_file: str, offset: int,
                  length: int,
                  want: Tuple[str, ...] = ("response",)) -> Optional[dict]:
    """Headers-only twin of :func:`_parse_member`'s MEMBERSHIP rule:
    returns a CDX dict for every member ``_parse_member`` would emit a
    row for — wanted record types (ok or error) AND members whose
    version line / header block is broken (their type is unknowable, so
    the scan reader surfaces them; an index that dropped them would make
    an index-driven backfill silently lossy) — and ``None`` for the
    skips (warcinfo / request / metadata / ...). No HTTP envelope
    decode, no dechunk/gunzip, no payload hash: the indexer's per-member
    cost is gzip inflate + one header parse."""
    try:
        if not member.startswith(b"WARC/"):
            raise ValueError("missing WARC/ version line")
        headers, _rest = _parse_headers(member)
        if headers.get("warc-type", "").lower() not in want:
            return None
        return {"url": headers.get("warc-target-uri"),
                "warc_file": warc_file, "warc_offset": offset,
                "warc_length": length}
    except ValueError:
        return {"url": None, "warc_file": warc_file,
                "warc_offset": offset, "warc_length": length}


def iter_warc_index(data: bytes, warc_file: str,
                    want: Tuple[str, ...] = ("response",)) \
        -> Iterator[dict]:
    """Container bytes -> CDX dicts, lazily — the pure kernel (and test
    oracle) of :func:`index_warc`. Consumes the SAME
    :func:`_iter_member_frames` walk as :func:`iter_warc_stream` (one
    framing implementation, no copy to drift); a container whose
    framing breaks mid-walk yields one marker row for the tail with the
    scan reader's offsets (gz: ``(-1, -1)``; members before the
    corruption still index). The marker drops the framing error text:
    ``CDX_SCHEMA`` has no error column, whereas
    :func:`iter_warc_stream` keeps it as ``"container: <err>"``."""
    for kind, member, off, ln, _err in _iter_member_frames(data):
        if kind == "tail":
            yield {"url": None, "warc_file": warc_file,
                   "warc_offset": off, "warc_length": ln}
            return
        r = _index_member(member, warc_file, off, ln, want)
        if r is not None:
            yield r


def index_warc(spark: SparkSession, path: str,
               want: Tuple[str, ...] = ("response",)) -> DataFrame:
    """Build a CDX index for foreign (index-less) containers in-engine:
    ``binaryFile`` -> one Arrow stage -> ``CDX_SCHEMA`` rows, zero
    exchanges — the same scan shape as :func:`read_warc` minus all
    payload work (no HTTP decode, no dechunk/gunzip, no sha256).
    Identity (pinned in tests/test_warc.py):
    ``read_warc_offsets(spark, index_warc(spark, p))`` row-matches
    ``read_warc(spark, p)`` on well-formed containers. Closes the
    build_cdx loop: production reads the crawl-provided cdx.gz, this
    path serves archives that never shipped one."""
    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in CDX_SCHEMA.fields]
        rows: List[dict] = []
        for pdf in it:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for r in iter_warc_index(bytes(content), fpath, want):
                    rows.append(r)
                    if len(rows) >= _BATCH_RECORDS:
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(gen, CDX_SCHEMA)
