"""WARC (Web ARChive) record parsing — the container format web-scale
text corpora actually arrive in (Common Crawl ships WARC/WET shards).

``parse_warc`` turns a blob column of WARC/1.x bytes (from
:func:`kolang_spark.sources.io.read_blobs` or any binary source) into
one row per record, with the HTTP envelope of ``response`` records
unwrapped to status/content-type/body. Both raw and gzip shards parse:
a blob starting with the gzip magic is decompressed as the
concatenated per-record gzip members real ``.warc.gz`` Common Crawl
shards use (``gunzip_members``). The parser is a hand-rolled
record walker over raw bytes — header block to ``\\r\\n\\r\\n``,
``Content-Length`` payload slice, 4-byte record separator — handed per
blob to :func:`kolang_spark.utils._map_rows`, the library's one Arrow row
boundary (a byte-offset walk has no Catalyst expression), which the
image/audio decoders in :mod:`kolang_spark.llm.multimodal` cross too.

Scale posture mirrors ``read_blobs``: one task per shard file, so
parallelism = shard count (Common Crawl segments ship ~1 GiB shards in
the tens of thousands — ideal task shape); downstream text work should
land the parsed records into parquet once and run from there.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kolang_spark.utils import _map_rows

__all__ = ["parse_warc", "parse_warc_bytes", "gunzip_members"]


def gunzip_members(b: bytes) -> bytes:
    """Decompress a sequence of concatenated gzip members to one
    contiguous byte string — the real Common Crawl shard layout is
    ``.warc.gz`` with ONE gzip member per record, so a shard is a
    member train, not a single stream (``gzip.decompress`` handles
    that too, but we need the member walk to stop cleanly at a
    truncated or corrupt member instead of raising).

    stdlib ``zlib`` with ``wbits=47`` per member (auto-detect gzip/zlib
    wrapper); a member that fails the CRC, is truncated, or is followed
    by non-gzip garbage ends the walk — everything decompressed so far
    is returned, mirroring the truncated-tail contract of
    :func:`parse_warc_bytes`.
    """
    import zlib

    out: List[bytes] = []
    while b.startswith(b"\x1f\x8b"):
        d = zlib.decompressobj(47)
        try:
            chunk = d.decompress(b)
        except zlib.error:
            break
        if not d.eof:
            # truncated member: zlib consumed everything without
            # reaching the gzip trailer — drop the partial payload
            # (its CRC was never verified)
            break
        out.append(chunk)
        b = d.unused_data
    return b"".join(out)

_SCHEMA = (
    "doc_id long, record_idx int, warc_type string, target_uri string, "
    "warc_date string, http_status int, content_type string, body binary"
)


def parse_warc_bytes(b: bytes) -> List[Tuple]:
    """Parse one WARC file's bytes into record tuples (pure function —
    unit-testable without Spark; :func:`parse_warc` maps it per blob).

    Per record: ``(record_idx, warc_type, target_uri, warc_date,
    http_status, content_type, body)``. For ``response`` records whose
    payload is an HTTP message, the envelope is unwrapped (status code,
    ``Content-Type`` header, body after the blank line); other record
    types carry the raw payload as ``body`` with NULL status/type.
    Truncated or malformed trailing data ends the walk (records parsed
    so far are kept); a blob that does not start with ``WARC/`` or the
    gzip magic yields no rows — the same poison-blob contract as the
    media decoders.

    Gzip shards: a blob starting with the gzip magic (``1f 8b``) is
    first run through :func:`gunzip_members` — real Common Crawl
    ``.warc.gz`` shards are concatenated per-record gzip members, which
    decompress to exactly the back-to-back record layout the walker
    already handles. A truncated/corrupt member ends the member walk;
    complete members before it still parse.
    """
    if b.startswith(b"\x1f\x8b"):
        b = gunzip_members(b)
    out: List[Tuple] = []
    pos, n, idx = 0, len(b), 0
    while pos < n:
        if not b.startswith(b"WARC/", pos):
            break
        hdr_end = b.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        headers = {}
        for line in b[pos:hdr_end].split(b"\r\n")[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get(b"content-length", b""))
        except ValueError:
            break
        if clen < 0:
            # adversarial/corrupt: a negative length would move the
            # walk BACKWARDS (pos = payload_start + clen), re-parsing
            # the same header forever — the one non-monotone step in
            # the loop, so reject it outright
            break
        payload_start = hdr_end + 4
        if payload_start + clen > n:
            break
        payload = b[payload_start : payload_start + clen]
        wtype = headers.get(b"warc-type", b"").decode("ascii", "replace")
        uri = headers.get(b"warc-target-uri")
        date = headers.get(b"warc-date")
        status: Optional[int] = None
        ctype: Optional[str] = None
        body = payload
        if wtype == "response" and payload.startswith(b"HTTP/"):
            http_end = payload.find(b"\r\n\r\n")
            if http_end >= 0:
                http_lines = payload[:http_end].split(b"\r\n")
                parts = http_lines[0].split()
                if len(parts) >= 2 and parts[1].isdigit():
                    status = int(parts[1])
                for line in http_lines[1:]:
                    k, sep, v = line.partition(b":")
                    if sep and k.strip().lower() == b"content-type":
                        ctype = v.strip().decode("ascii", "replace")
                body = payload[http_end + 4 :]
        out.append(
            (
                idx,
                wtype,
                uri.decode("utf-8", "replace") if uri is not None else None,
                date.decode("ascii", "replace") if date is not None else None,
                status,
                ctype,
                body,
            )
        )
        idx += 1
        pos = payload_start + clen
        # the record separator is exactly \r\n\r\n; tolerate its absence
        # at EOF (truncated-but-complete final record)
        if b.startswith(b"\r\n\r\n", pos):
            pos += 4
    return out


def parse_warc(
    df: DataFrame,
    blob_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode a WARC blob column into records — see
    :func:`parse_warc_bytes` for the per-blob contract. Output columns:
    ``(id_col, record_idx, warc_type, target_uri, warc_date,
    http_status, content_type, body)``; a NULL blob is empty bytes and
    yields no rows. Runs at the one Arrow row boundary,
    :func:`kolang_spark.utils._map_rows`."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(blob_col).alias("blob"))
    return _map_rows(
        src, _SCHEMA, lambda did, b: ((did, *r) for r in parse_warc_bytes(b))
    )
