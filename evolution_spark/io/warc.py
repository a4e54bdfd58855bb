"""WARC (Web ARChive, ISO 28500) source — how a 100 TB pretraining
corpus actually ARRIVES (Common Crawl ships WARC), so the engine reads
it natively instead of requiring a pre-conversion step.

Format facts (public spec + the Common Crawl packaging convention):
a WARC file is a sequence of records, each::

    WARC/1.0\\r\\n
    <name>: <value>\\r\\n ...          (WARC-Type, WARC-Target-URI,
    \\r\\n                              WARC-Date, Content-Length, ...)
    <Content-Length payload bytes>
    \\r\\n\\r\\n

and the ``.warc.gz`` convention compresses EACH RECORD as its own gzip
member, members concatenated — the property that makes an otherwise
unsplittable gzip stream distributable.

Scale design (the whole point of this module):

1. **Index pass** — one task per FILE streams the raw bytes through a
   ``zlib`` decompressobj in bounded chunks (decompressed output is
   DISCARDED; memory stays O(chunk)), recording each gzip member's
   (offset, compressed length). No driver work, no whole-file gunzip,
   no full-file buffering. Plain uncompressed ``.warc`` files
   (wget/warcio commonly emit them) are indexed by a bounded-memory
   record-boundary scan instead: headers are read in a capped window,
   ``Content-Length`` skips each payload with a seek, so the index
   pass never buffers a payload at all — and the record pass needs no
   inflation, making plain files the FASTER path per record.
2. **Record pass** — the index explodes to one row per split unit
   (gzip member, or individual record for plain files) and is
   repartitioned, so parse parallelism tracks record count, not file
   count; each task range-reads ``[offset, offset+length)`` (a range
   GET against object storage in a real deployment), inflates its one
   member if compressed, and parses headers + payload. A gzip member
   holding SEVERAL records (multi-record members are legal and some
   writers emit them) is split by the same Content-Length walk.

``read_warc`` returns (file, offset, warc_type, record_id, uri, date,
content_type, http_status, payload, n_bytes, refers_to,
payload_digest, profile, content_encoding): HTTP response records
surface the status code and the BODY — HTTP headers stripped,
``Transfer-Encoding: chunked`` framing removed and
``Content-Encoding: gzip``/``deflate`` inflated (bounded, same
decompression-bomb discipline as the member indexer), so a real
Common Crawl page reaches downstream HTML extraction as text, not
compressed bytes. ``content_encoding`` records what was undone
(e.g. ``"chunked+gzip"``); unknown codings raise ValueError (→
per-record quarantine under ``on_error="skip"``). Other record types
carry their raw block.

Ref parity: the reference has no web-archive source (extension
surface; its scan operator is the fixed-length-file reader —
crates/evolution-slicer/src/slicer.rs).
"""
from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

_CHUNK = 1 << 20
_GZIP_MAGIC = b"\x1f\x8b"
# one HTTP body may legally inflate far beyond its wire size; cap the
# expansion so a decompression-bomb record cannot take down a task
# (ValueError -> per-record quarantine under on_error="skip")
_MAX_HTTP_INFLATE = 64 << 20
# a gzip member must fully materialize to be parsed (unlike the index
# pass, which discards); bound that materialization too
_MAX_MEMBER_INFLATE = 1 << 30
# WARC header blocks are small; a "header" that does not terminate
# within this window is corrupt, not large
_HDR_WINDOW = 64 << 10

_INDEX_SCHEMA = "file string, offset long, length long, gz boolean"
_RECORD_SCHEMA = (
    "file string, offset long, warc_type string, record_id string, "
    "uri string, date string, content_type string, http_status int, "
    "payload binary, n_bytes long, refers_to string, "
    "payload_digest string, profile string, content_encoding string"
)

_HEX_DIGITS = frozenset(b"0123456789abcdefABCDEF")


def _inflate_bounded(data: bytes, wbits: int, max_out: int,
                     what: str) -> bytes:
    """Inflate ``data`` with a hard output cap (decompression-bomb
    guard): each decompress call is bounded by ``max_length`` and the
    running total is checked, so the cap is enforced BEFORE the
    expansion materializes. gzip streams may be several concatenated
    members (servers do emit them); raw trailing garbage raises."""
    out = []
    total = 0
    gzip_mode = wbits >= 16
    try:
        while True:
            d = zlib.decompressobj(wbits)
            chunk = d.decompress(data, _CHUNK)
            while True:
                total += len(chunk)
                if total > max_out:
                    raise ValueError(
                        f"{what}: inflated payload exceeds "
                        f"{max_out} bytes — refused "
                        "(decompression-bomb guard)"
                    )
                out.append(chunk)
                if not d.unconsumed_tail:
                    break
                chunk = d.decompress(d.unconsumed_tail, _CHUNK)
            if not d.eof:
                raise ValueError(f"{what}: truncated compressed data")
            data = d.unused_data
            if not data:
                return b"".join(out)
            if not (gzip_mode and data[:2] == _GZIP_MAGIC):
                raise ValueError(
                    f"{what}: trailing bytes after compressed data"
                )
    except zlib.error as exc:
        raise ValueError(f"{what}: corrupt compressed data: {exc}")


def _inflate_deflate(data: bytes, max_out: int, what: str) -> bytes:
    """HTTP ``deflate`` per RFC 9110 is the zlib format, but many real
    servers send RAW deflate — the standard client behavior (and ours)
    is to try zlib first and fall back to raw."""
    try:
        return _inflate_bounded(data, zlib.MAX_WBITS, max_out, what)
    except ValueError:
        return _inflate_bounded(data, -zlib.MAX_WBITS, max_out, what)


def _dechunk(body: bytes) -> bytes:
    """Remove ``Transfer-Encoding: chunked`` framing (RFC 9112 §7.1):
    hex-size lines (chunk extensions after ';' ignored), CRLF-
    terminated chunk data, a 0-size last chunk, then optional trailer
    fields and a closing CRLF. Strict: any framing violation —
    truncation included — raises ValueError (the quarantine
    contract), never returns partial data silently."""
    out = []
    pos = 0
    n = len(body)
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError("chunked body: missing chunk-size line")
        size_tok = body[pos:nl].split(b";", 1)[0].strip()
        if not size_tok or any(c not in _HEX_DIGITS
                               for c in size_tok):
            raise ValueError(
                f"chunked body: bad chunk size {size_tok[:16]!r}"
            )
        size = int(size_tok, 16)
        pos = nl + 2
        if size == 0:
            # zero or more trailer lines, then a blank line
            while True:
                nl2 = body.find(b"\r\n", pos)
                if nl2 < 0:
                    raise ValueError(
                        "chunked body: unterminated trailer section"
                    )
                done = nl2 == pos
                pos = nl2 + 2
                if done:
                    break
            if pos != n:
                raise ValueError(
                    "chunked body: trailing bytes after last chunk"
                )
            return b"".join(out)
        if pos + size + 2 > n:
            raise ValueError("chunked body: chunk data overruns body")
        if body[pos + size: pos + size + 2] != b"\r\n":
            raise ValueError(
                "chunked body: chunk data not CRLF-terminated"
            )
        out.append(body[pos: pos + size])
        pos += size + 2


def _decode_http_body(payload: bytes, http_headers: dict):
    """Undo transfer- then content-codings on an HTTP response body.
    Returns (decoded_payload, applied) where ``applied`` lists the
    codings undone in decode order (e.g. ["chunked", "gzip"]).
    Unknown codings (br, zstd, compress, ...) raise ValueError — the
    refuse-over-misdecode posture; under read_warc(on_error="skip")
    that quarantines the one record."""
    applied = []
    te = http_headers.get("transfer-encoding")
    if te:
        tokens = [t.strip().lower() for t in te.split(",")
                  if t.strip()]
        # codings were applied in list order; undo in reverse
        # (chunked, when present, is required to be last)
        for t in reversed(tokens):
            if t == "chunked":
                payload = _dechunk(payload)
                applied.append("chunked")
            elif t in ("gzip", "x-gzip"):
                payload = _inflate_bounded(
                    payload, 16 + zlib.MAX_WBITS, _MAX_HTTP_INFLATE,
                    "transfer-encoding gzip")
                applied.append("gzip")
            elif t == "deflate":
                payload = _inflate_deflate(
                    payload, _MAX_HTTP_INFLATE,
                    "transfer-encoding deflate")
                applied.append("deflate")
            elif t == "identity":
                pass
            else:
                raise ValueError(
                    f"unsupported transfer-coding {t!r}"
                )
    ce = http_headers.get("content-encoding")
    if ce:
        tokens = [t.strip().lower() for t in ce.split(",")
                  if t.strip()]
        for t in reversed(tokens):
            if t in ("gzip", "x-gzip"):
                payload = _inflate_bounded(
                    payload, 16 + zlib.MAX_WBITS, _MAX_HTTP_INFLATE,
                    "content-encoding gzip")
                applied.append("gzip")
            elif t == "deflate":
                payload = _inflate_deflate(
                    payload, _MAX_HTTP_INFLATE,
                    "content-encoding deflate")
                applied.append("deflate")
            elif t in ("identity", "none"):
                pass
            else:
                raise ValueError(
                    f"unsupported content-coding {t!r}"
                )
    return payload, applied


def _content_length_of(hdr: bytes) -> int:
    """Content-Length from a raw WARC header block (bytes up to but
    excluding the blank line). Case-insensitive; continuation lines
    cannot hide the value (a folded Content-Length is malformed)."""
    for line in hdr.split(b"\r\n"):
        if line[:1] in (b" ", b"\t"):
            continue
        k, _, v = line.partition(b":")
        if k.strip().lower() == b"content-length":
            v = v.strip()
            if not v.isdigit():
                raise ValueError(
                    "WARC record missing a valid Content-Length")
            return int(v)
    raise ValueError("WARC record missing a valid Content-Length")


def split_warc_records(block: bytes, base_offset: int = 0):
    """Walk a decompressed byte block holding one or more concatenated
    WARC records (a multi-record gzip member, or a plain-file range)
    and yield (absolute_offset, record_bytes) per record, located by
    each header's Content-Length. Strict tiling: records must cover
    the block exactly, each terminated by the spec's two CRLFs."""
    pos = 0
    n = len(block)
    while pos < n:
        if not block.startswith(b"WARC/", pos):
            raise ValueError(
                f"expected a WARC/ version line at offset "
                f"{base_offset + pos}"
            )
        hdr_end = block.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("WARC header block unterminated")
        length = _content_length_of(block[pos:hdr_end])
        end = hdr_end + 4 + length + 4
        if end > n:
            raise ValueError("WARC Content-Length overruns the block")
        if block[hdr_end + 4 + length: end] != b"\r\n\r\n":
            raise ValueError(
                "WARC record not terminated by CRLF CRLF")
        yield base_offset + pos, block[pos:end]
        pos = end


def index_plain_records(path: str):
    """Index one UNCOMPRESSED ``.warc`` file -> [(offset, length)] per
    record, in bounded memory: each iteration reads only a capped
    header window, takes Content-Length, and SEEKS past the payload —
    payload bytes are never buffered by the index pass at all (they
    are range-read later by exactly the task that parses them)."""
    offsets = []
    with open(path, "rb") as f:
        f.seek(0, 2)
        size = f.tell()
        pos = 0
        while pos < size:
            f.seek(pos)
            head = f.read(_HDR_WINDOW)
            if not head.startswith(b"WARC/"):
                raise ValueError(
                    f"{path}: expected a WARC/ version line at "
                    f"offset {pos}"
                )
            hdr_end = head.find(b"\r\n\r\n")
            if hdr_end < 0:
                raise ValueError(
                    f"{path}: WARC header block at offset {pos} "
                    f"unterminated within {_HDR_WINDOW} bytes"
                )
            try:
                length = _content_length_of(head[:hdr_end])
            except ValueError as exc:
                raise ValueError(f"{path}: offset {pos}: {exc}")
            end = pos + hdr_end + 4 + length + 4
            if end > size:
                raise ValueError(
                    f"{path}: truncated final WARC record at "
                    f"offset {pos}"
                )
            offsets.append((pos, end - pos))
            pos = end
    return offsets


def index_warc_records(path: str):
    """Dispatch on the file magic -> [(offset, length, gz)] split
    units: gzip members for ``.warc.gz`` (each may hold several
    records), individual records for plain ``.warc``. Anything else
    is a loud wrong-packaging refusal."""
    with open(path, "rb") as f:
        head = f.read(5)
    if head[:2] == _GZIP_MAGIC:
        return [(o, ln, True) for o, ln in index_gzip_members(path)]
    if head == b"WARC/":
        return [(o, ln, False) for o, ln in index_plain_records(path)]
    raise ValueError(
        f"{path}: neither gzip nor WARC magic ({head!r}) — expected "
        "a .warc.gz (member-compressed) or plain .warc file"
    )


def index_gzip_members(path: str):
    """Stream one ``.warc.gz`` file and yield (offset, length) per gzip
    member. Bounded memory: inflated bytes are discarded; only offsets
    survive. Runs inside an executor task."""
    offsets = []
    with open(path, "rb") as f:
        head = f.read(2)
        if head != _GZIP_MAGIC:
            raise ValueError(
                f"{path}: not member-compressed gzip (magic "
                f"{head!r}); for uncompressed archives use "
                "index_plain_records / the read_warc dispatch"
            )
        f.seek(0)
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        member_start = 0
        pos = 0
        while True:
            chunk = f.read(_CHUNK)
            if not chunk:
                break
            data = chunk
            base = pos
            while data:
                try:
                    # Bound the inflated output too (a gzip-bomb member
                    # would otherwise materialize its full expansion):
                    # max_length caps each decompress call at _CHUNK
                    # bytes of output; unconsumed input waits in
                    # unconsumed_tail until the next bounded call.
                    d.decompress(data, _CHUNK)  # output discarded
                    while d.unconsumed_tail and not d.eof:
                        d.decompress(d.unconsumed_tail, _CHUNK)
                except zlib.error as exc:
                    raise ValueError(
                        f"{path}: corrupt gzip member at offset "
                        f"{member_start}: {exc}"
                    )
                if not d.eof:
                    break  # member continues into the next chunk
                consumed = len(data) - len(d.unused_data)
                member_end = base + consumed
                offsets.append((member_start, member_end - member_start))
                member_start = member_end
                data = d.unused_data
                base = member_end
                if len(data) >= 2 and data[:2] != _GZIP_MAGIC:
                    raise ValueError(
                        f"{path}: trailing bytes after a gzip member "
                        "are not another member — refused"
                    )
                d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            pos += len(chunk)
        if member_start != pos:
            raise ValueError(f"{path}: truncated final gzip member")
    return offsets


def parse_warc_record(block: bytes, file: str = "", offset: int = 0,
                      decode_http: bool = True):
    """Parse ONE inflated WARC record -> the _RECORD_SCHEMA tuple.
    HTTP ``response`` records get their status parsed, headers
    stripped from the payload, and (``decode_http=True``, the
    default) their body decoded: ``Transfer-Encoding: chunked``
    de-framed and ``Content-Encoding: gzip``/``deflate`` inflated
    under the bomb-guard cap, recording what was undone in the
    ``content_encoding`` column. Unknown codings raise ValueError."""
    nl = block.find(b"\r\n")
    if nl < 0 or not block[:nl].startswith(b"WARC/"):
        raise ValueError("WARC record missing its WARC/x.y version line")
    version = block[5:nl].decode("ascii", "replace")
    if version not in ("1.0", "1.1"):
        raise ValueError(f"unsupported WARC version {version}")
    hdr_end = block.find(b"\r\n\r\n", nl)
    if hdr_end < 0:
        raise ValueError("WARC header block unterminated")
    headers = {}
    last_key = None
    for line in block[nl + 2: hdr_end].split(b"\r\n"):
        if line[:1] in (b" ", b"\t") and last_key is not None:
            # RFC2822-style folded (continuation) line — valid WARC
            headers[last_key] += " " + line.strip().decode(
                "utf-8", "replace")
            continue
        if b":" not in line:
            raise ValueError("malformed WARC header line")
        k, v = line.split(b":", 1)
        last_key = k.strip().lower().decode("ascii", "replace")
        headers[last_key] = v.strip().decode("utf-8", "replace")
    try:
        length = int(headers["content-length"])
    except (KeyError, ValueError):
        raise ValueError("WARC record missing a valid Content-Length")
    body_start = hdr_end + 4
    if body_start + length > len(block):
        raise ValueError("WARC Content-Length overruns the record")
    body = block[body_start: body_start + length]
    warc_type = headers.get("warc-type")
    if not warc_type:
        raise ValueError("WARC record missing WARC-Type")
    http_status = None
    payload = body
    ctype = headers.get("content-type")
    encoding = None
    if warc_type == "response" and body[:5] in (b"HTTP/",):
        he = body.find(b"\r\n\r\n")
        if he < 0:
            raise ValueError("HTTP response headers unterminated")
        status_line = body[: body.find(b"\r\n")].split(b" ")
        if len(status_line) < 2 or not status_line[1].isdigit():
            raise ValueError("HTTP status line malformed")
        http_status = int(status_line[1])
        http_headers = {}
        h_last = None
        for line in body[body.find(b"\r\n") + 2: he].split(b"\r\n"):
            if line[:1] in (b" ", b"\t") and h_last is not None:
                # obs-fold continuation (RFC 9112 §5.2)
                http_headers[h_last] += " " + line.strip().decode(
                    "latin-1")
                continue
            if b":" not in line:
                continue  # tolerate junk header lines in the wild
            k, v = line.split(b":", 1)
            h_last = k.strip().lower().decode("latin-1")
            v = v.strip().decode("latin-1")
            if h_last in http_headers and h_last in (
                    "transfer-encoding", "content-encoding"):
                # repeated coding field -> comma list (RFC 9110
                # §5.2) so apply order is preserved; other repeated
                # fields keep the last value
                http_headers[h_last] += ", " + v
            else:
                http_headers[h_last] = v
        if "content-type" in http_headers:
            ctype = http_headers["content-type"]
        payload = body[he + 4:]
        if decode_http:
            payload, applied = _decode_http_body(payload,
                                                 http_headers)
            encoding = "+".join(applied) if applied else None
    return (
        file, offset, warc_type, headers.get("warc-record-id"),
        headers.get("warc-target-uri"), headers.get("warc-date"),
        ctype, http_status, bytes(payload), len(payload),
        # revisit-dedup surface (ISO 28500 §6.7): the original this
        # record re-observed, the payload content digest, and the
        # revisit profile URI (identical-payload-digest vs
        # server-not-modified)
        headers.get("warc-refers-to"),
        headers.get("warc-payload-digest"),
        headers.get("warc-profile"),
        encoding,
    )


def read_warc(spark: SparkSession, paths: list[str],
              records_per_partition: int = 2000,
              on_error: str = "raise",
              decode_http: bool = True) -> DataFrame:
    """Distributed WARC reader for both ``.warc.gz`` (gzip members,
    possibly multi-record) and plain ``.warc``: file-parallel
    indexing, then record-parallel range-read + parse (see module
    docstring for the scale shape). ``records_per_partition`` sizes
    the second stage so parse parallelism is independent of file
    count. ``decode_http=False`` skips HTTP body decoding (chunked /
    gzip / deflate) and returns raw bodies with headers stripped.

    ``on_error``: ``"raise"`` (default) fails the task on a corrupt
    record — the strict-container posture; ``"skip"`` drops corrupt
    RECORDS (bad header block, short Content-Length, corrupt member,
    undecodable HTTP coding) and keeps the rest of the file — the
    posture for a 100 TB crawl where one mangled record must not
    abort a stage. Skips are OBSERVABLE, not silent: the returned
    DataFrame carries a ``warc_skipped`` Spark accumulator attribute
    (total skipped split units after an action; task retries may
    overcount — accumulator semantics in transformations) and each
    task logs a per-file skip line to executor stderr, so a
    systematic parser regression is distinguishable from clean data.
    INDEX errors (a file that is neither member-gzip nor plain WARC)
    always raise: that is a wrong-packaging error, not a bad
    record."""
    import pandas as pd

    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")

    if not paths:
        raise ValueError("read_warc needs at least one path")
    files = spark.createDataFrame([(p,) for p in sorted(paths)],
                                  "file string")
    skip_acc = (spark.sparkContext.accumulator(0)
                if on_error == "skip" else None)

    def _index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf["file"]:
                for off, ln, gz in index_warc_records(p):
                    rows.append((p, off, ln, gz))
            yield pd.DataFrame(rows, columns=["file", "offset",
                                              "length", "gz"])

    idx = files.repartition(max(len(paths), 1), "file").mapInPandas(
        _index, _INDEX_SCHEMA
    ).localCheckpoint()  # index rows are tiny; never re-stream the
    # raw files for the count + the parse stage below
    n_total = idx.count()
    n_parts = max(1, (n_total + records_per_partition - 1)
                  // records_per_partition)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import logging

        log = logging.getLogger(__name__)
        for pdf in batches:
            rows = []
            handles = {}
            skipped_by_file: dict = {}

            def _skip(p, exc):
                skipped_by_file[p] = skipped_by_file.get(p, 0) + 1
                if skip_acc is not None:
                    skip_acc.add(1)

            try:
                for p, off, ln, gz in zip(pdf["file"], pdf["offset"],
                                          pdf["length"], pdf["gz"]):
                    f = handles.get(p)
                    if f is None:
                        f = handles[p] = open(p, "rb")
                    f.seek(int(off))
                    raw = f.read(int(ln))
                    try:
                        if gz:
                            block = _inflate_bounded(
                                raw, 16 + zlib.MAX_WBITS,
                                _MAX_MEMBER_INFLATE,
                                f"{p}: gzip member at {off}")
                        else:
                            block = raw
                    except ValueError as exc:
                        if on_error == "raise":
                            raise
                        _skip(p, exc)
                        continue
                    # a gzip member may hold several records; a plain
                    # split unit is exactly one — the same walk
                    # handles both
                    recs = split_warc_records(block, int(off))
                    while True:
                        try:
                            rec_off, rec = next(recs)
                        except StopIteration:
                            break
                        except ValueError as exc:
                            # boundary walk lost: remaining records
                            # in this unit are unlocatable
                            if on_error == "raise":
                                raise
                            _skip(p, exc)
                            break
                        try:
                            rows.append(parse_warc_record(
                                rec, p, rec_off,
                                decode_http=decode_http))
                        except ValueError as exc:
                            if on_error == "raise":
                                raise
                            _skip(p, exc)
            finally:
                for f in handles.values():
                    f.close()
            for p, n_skip in skipped_by_file.items():
                log.warning("read_warc: skipped %d corrupt record(s)/unit(s) "
                            "in %s", n_skip, p)
            yield pd.DataFrame(rows, columns=[
                "file", "offset", "warc_type", "record_id", "uri",
                "date", "content_type", "http_status", "payload",
                "n_bytes", "refers_to", "payload_digest", "profile",
                "content_encoding",
            ])

    out = idx.repartition(n_parts).mapInPandas(_parse, _RECORD_SCHEMA)
    out.warc_skipped = skip_acc
    return out


# ------------------------------------------------------ fixture writer


def build_warc_record(warc_type: str, uri: str | None, date: str,
                      payload: bytes, record_id: str,
                      content_type: str = "text/plain",
                      extra_headers: dict | None = None) -> bytes:
    hdrs = [
        b"WARC/1.0",
        f"WARC-Type: {warc_type}".encode(),
        f"WARC-Record-ID: {record_id}".encode(),
        f"WARC-Date: {date}".encode(),
        f"Content-Type: {content_type}".encode(),
        f"Content-Length: {len(payload)}".encode(),
    ]
    if uri is not None:
        hdrs.insert(3, f"WARC-Target-URI: {uri}".encode())
    for k, v in (extra_headers or {}).items():
        hdrs.append(f"{k}: {v}".encode())
    return b"\r\n".join(hdrs) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def write_warc_gz(path: str, records: list[bytes],
                  records_per_member: int = 1):
    """Write records as one ``.warc.gz`` — by default each record its
    own gzip member (the Common Crawl packaging); set
    ``records_per_member`` > 1 to emit multi-record members (legal,
    some writers do — the reader splits them on Content-Length)."""
    import gzip
    import io

    with open(path, "wb") as f:
        for i in range(0, len(records), records_per_member):
            buf = io.BytesIO()
            # mtime pinned for byte-deterministic fixtures
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                g.write(b"".join(records[i: i + records_per_member]))
            f.write(buf.getvalue())


def write_warc_plain(path: str, records: list[bytes]):
    """Write records as one UNCOMPRESSED ``.warc`` (what wget/warcio
    emit by default) — records concatenated, no framing beyond each
    record's own header + trailing CRLFs."""
    with open(path, "wb") as f:
        f.write(b"".join(records))


def build_http_response(body: bytes, status: str = "200 OK",
                        content_type: str = "text/html",
                        content_encoding: str | None = None,
                        transfer_encoding: str | None = None,
                        chunk_size: int = 7,
                        extra_headers: dict | None = None) -> bytes:
    """Fixture builder: an HTTP/1.1 response message with the body
    actually ENCODED per the declared codings — Content-Encoding
    applied first (gzip/deflate, deterministic: zlib level 9, gzip
    mtime pinned), then Transfer-Encoding chunked framing — so
    reader tests exercise the real decode path, not a header-only
    simulation."""
    import gzip as _gz
    import io as _io

    wire = body
    hdrs = [f"HTTP/1.1 {status}".encode(),
            f"Content-Type: {content_type}".encode()]
    if content_encoding:
        if content_encoding == "gzip":
            buf = _io.BytesIO()
            with _gz.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                g.write(wire)
            wire = buf.getvalue()
        elif content_encoding == "deflate":
            wire = zlib.compress(wire, 9)
        elif content_encoding == "deflate-raw":
            c = zlib.compressobj(9, zlib.DEFLATED, -zlib.MAX_WBITS)
            wire = c.compress(wire) + c.flush()
            content_encoding = "deflate"
        else:
            raise ValueError(
                f"fixture builder: unknown coding {content_encoding}")
        hdrs.append(f"Content-Encoding: {content_encoding}".encode())
    if transfer_encoding:
        if transfer_encoding != "chunked":
            raise ValueError("fixture builder supports only chunked")
        chunks = []
        for i in range(0, len(wire), chunk_size):
            part = wire[i: i + chunk_size]
            chunks.append(f"{len(part):x}".encode() + b"\r\n"
                          + part + b"\r\n")
        chunks.append(b"0\r\n\r\n")
        wire = b"".join(chunks)
        hdrs.append(b"Transfer-Encoding: chunked")
    for k, v in (extra_headers or {}).items():
        hdrs.append(f"{k}: {v}".encode())
    return b"\r\n".join(hdrs) + b"\r\n\r\n" + wire


# ------------------------------------------------------------- ARC (legacy)

_ARC_RECORD_SCHEMA = (
    "file string, offset long, uri string, ip string, date string, "
    "content_type string, payload binary, n_bytes long"
)


def parse_arc_record(block: bytes, file: str = "", offset: int = 0):
    """Parse ONE inflated ARC record (Internet Archive legacy format,
    the pre-WARC Common Crawl packaging): a single space-separated
    header line -- v1 ``URL IP date content-type length`` (5 fields) or
    v2 (10 fields, length last) -- then ``length`` payload bytes."""
    nl = block.find(b"\n")
    if nl < 0:
        raise ValueError("ARC record missing its header line")
    fields = block[:nl].decode("utf-8", "replace").split(" ")
    if len(fields) not in (5, 10):
        raise ValueError(
            f"ARC header has {len(fields)} fields (v1=5 or v2=10)"
        )
    url, ip, date = fields[0], fields[1], fields[2]
    mime = fields[3]  # Content-type is field 4 in both v1 and v2
    try:
        length = int(fields[-1])
    except ValueError:
        raise ValueError("ARC header length field is not an integer")
    body = block[nl + 1: nl + 1 + length]
    if len(body) < length:
        raise ValueError("ARC length overruns the record")
    return (file, offset, url, ip, date, mime, bytes(body), length)


def read_arc(spark: SparkSession, paths: list[str],
             records_per_partition: int = 2000) -> DataFrame:
    """Distributed ``.arc.gz`` reader: the same member-index-then-
    range-read shape as :func:`read_warc` (ARC files from the Internet
    Archive era use the identical gzip-member-per-record packaging).
    The leading ``filedesc://`` version record of each file is emitted
    like any other row (filter on ``uri`` to drop it)."""
    import pandas as pd

    if not paths:
        raise ValueError("read_arc needs at least one path")
    files = spark.createDataFrame([(p,) for p in sorted(paths)],
                                  "file string")

    def _index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf["file"]:
                for off, ln in index_gzip_members(p):
                    rows.append((p, off, ln, True))
            yield pd.DataFrame(rows, columns=["file", "offset",
                                              "length", "gz"])

    idx = files.repartition(max(len(paths), 1), "file").mapInPandas(
        _index, _INDEX_SCHEMA
    ).localCheckpoint()
    n_total = idx.count()
    n_parts = max(1, (n_total + records_per_partition - 1)
                  // records_per_partition)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            handles = {}
            try:
                for p, off, ln in zip(pdf["file"], pdf["offset"],
                                      pdf["length"]):
                    f = handles.get(p)
                    if f is None:
                        f = handles[p] = open(p, "rb")
                    f.seek(int(off))
                    raw = f.read(int(ln))
                    try:
                        block = zlib.decompress(raw, 16 + zlib.MAX_WBITS)
                    except zlib.error as exc:
                        raise ValueError(
                            f"{p}: corrupt gzip member at {off}: {exc}"
                        )
                    rows.append(parse_arc_record(block, p, int(off)))
            finally:
                for f in handles.values():
                    f.close()
            yield pd.DataFrame(rows, columns=[
                "file", "offset", "uri", "ip", "date", "content_type",
                "payload", "n_bytes",
            ])

    return idx.repartition(n_parts).mapInPandas(_parse,
                                                _ARC_RECORD_SCHEMA)


def build_arc_record(url: str, ip: str, date: str, content_type: str,
                     payload: bytes) -> bytes:
    hdr = f"{url} {ip} {date} {content_type} {len(payload)}\n"
    return hdr.encode() + payload + b"\n"
