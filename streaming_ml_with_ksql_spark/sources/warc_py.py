"""Pure-Python WARC/1.0 + gzip (RFC 1952) corpus wire — the archive
format LLM training corpora actually arrive in.

Common Crawl (and every WARC-producing crawler) ships `.warc.gz` files:
each WARC record is compressed as its OWN gzip member and the members
are concatenated, so a reader can split work at member boundaries
without decompressing the whole file — exactly the property a
distributed ingester needs. The reference ingests Kafka topics
(README.md:27,39); a training-data pipeline at 100 TB ingests crawl
archives, so this closes the corpus-ingestion leg the same way avro_py
closed the registry-framing leg: both layers implemented from their
public specs (ISO 28500 WARC; RFC 1952 gzip) with stdlib zlib/struct
only, over Arrow batches.

gzip member layout (RFC 1952): 10-byte header (magic 1f 8b, CM=8
deflate, FLG, MTIME=0 — pinned for byte-stable encodes — XFL=0,
OS=255) + raw DEFLATE stream + CRC32 + ISIZE (both little-endian,
of the UNCOMPRESSED payload). The parser honors FEXTRA/FNAME/
FCOMMENT/FHCRC flag fields from foreign writers and verifies both
trailer integers.

WARC record layout (ISO 28500): `WARC/1.0\\r\\n`, named headers
(Content-Length is mandatory and is the exact payload byte count),
blank line, payload, `\\r\\n\\r\\n` terminator.

Same hardening discipline as avro_py/bson_py (ADVICE r6): every read
bounds-checks and raises ValueError("truncated ..."), trailing or
malformed bytes are named errors, CRC/ISIZE mismatches raise with both
values — never a silent wrong decode.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

__all__ = [
    "gzip_member",
    "gunzip_members",
    "warc_record",
    "parse_warc",
    "encode_warc_gz",
    "decode_warc_gz",
]

_GZ_MAGIC = b"\x1f\x8b"
_FTEXT, _FHCRC, _FEXTRA, _FNAME, _FCOMMENT = 1, 2, 4, 8, 16


def gzip_member(data: bytes) -> bytes:
    """One deterministic gzip member (MTIME pinned to 0 so identical
    payloads encode to identical bytes — the content-addressable
    artifact contract)."""
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    deflated = co.compress(data) + co.flush()
    header = _GZ_MAGIC + b"\x08\x00" + b"\x00\x00\x00\x00" + b"\x00\xff"
    trailer = struct.pack(
        "<II", zlib.crc32(data) & 0xFFFFFFFF, len(data) & 0xFFFFFFFF
    )
    return header + deflated + trailer


def gunzip_members(blob: bytes) -> list[bytes]:
    """Split + decompress a stream of concatenated gzip members,
    verifying each member's CRC32 and ISIZE. The per-member DEFLATE
    slice is a zero-copy memoryview (ADVICE r8): slicing bytes per
    member would copy the remaining shard tail each time — O(members²)
    bytes on a many-member shard blob."""
    out: list[bytes] = []
    view = memoryview(blob)
    pos, n = 0, len(blob)
    while pos < n:
        if n - pos < 10:
            raise ValueError(f"truncated gzip header at byte {pos}")
        if blob[pos : pos + 2] != _GZ_MAGIC:
            raise ValueError(
                f"bad gzip magic {blob[pos:pos + 2].hex()} at byte {pos}"
            )
        if blob[pos + 2] != 8:
            raise ValueError(f"unsupported gzip CM {blob[pos + 2]} (want 8)")
        flg = blob[pos + 3]
        p = pos + 10
        if flg & _FEXTRA:
            if n - p < 2:
                raise ValueError("truncated FEXTRA length")
            (xlen,) = struct.unpack_from("<H", blob, p)
            p += 2 + xlen
        for bit in (_FNAME, _FCOMMENT):
            if flg & bit:
                end = blob.find(b"\x00", p)
                if end < 0:
                    raise ValueError("unterminated gzip name/comment field")
                p = end + 1
        if flg & _FHCRC:
            p += 2
        if p > n:
            raise ValueError("truncated gzip optional header fields")
        do = zlib.decompressobj(-15)
        try:
            data = do.decompress(view[p:])
        except zlib.error as e:
            raise ValueError(f"corrupt DEFLATE stream at byte {p}: {e}") from e
        if not do.eof:
            raise ValueError("truncated DEFLATE stream (no final block)")
        tail_at = n - len(do.unused_data)
        if len(do.unused_data) < 8:
            raise ValueError("truncated gzip trailer")
        crc, isize = struct.unpack_from("<II", do.unused_data, 0)
        if crc != zlib.crc32(data) & 0xFFFFFFFF:
            raise ValueError(
                f"gzip CRC mismatch: header {crc:#010x} "
                f"!= computed {zlib.crc32(data) & 0xFFFFFFFF:#010x}"
            )
        if isize != len(data) & 0xFFFFFFFF:
            raise ValueError(
                f"gzip ISIZE mismatch: {isize} != {len(data) & 0xFFFFFFFF}"
            )
        out.append(data)
        pos = tail_at + 8
    return out


def warc_record(headers: dict[str, str], payload: bytes) -> bytes:
    """One WARC/1.0 record; Content-Length is derived, never caller-set."""
    lines = [b"WARC/1.0\r\n"]
    for k, v in headers.items():
        if "\r" in v or "\n" in v:
            raise ValueError(f"WARC header value contains CRLF: {k}")
        lines.append(f"{k}: {v}\r\n".encode("utf-8"))
    lines.append(f"Content-Length: {len(payload)}\r\n".encode())
    lines.append(b"\r\n")
    return b"".join(lines) + payload + b"\r\n\r\n"


def parse_warc(raw: bytes) -> tuple[dict[str, str], bytes]:
    """One decompressed member → (headers, payload), fully validated."""
    head_end = raw.find(b"\r\n\r\n")
    if head_end < 0:
        raise ValueError("truncated WARC record: no header terminator")
    head_lines = raw[:head_end].split(b"\r\n")
    if head_lines[0] != b"WARC/1.0":
        raise ValueError(f"bad WARC version line {head_lines[0]!r}")
    headers: dict[str, str] = {}
    for line in head_lines[1:]:
        k, sep, v = line.partition(b": ")
        if not sep:
            raise ValueError(f"malformed WARC header line {line!r}")
        headers[k.decode("utf-8")] = v.decode("utf-8")
    if "Content-Length" not in headers:
        raise ValueError("WARC record missing Content-Length")
    clen = int(headers["Content-Length"])
    body_at = head_end + 4
    if len(raw) != body_at + clen + 4:
        raise ValueError(
            f"WARC length mismatch: declared {clen}, member holds "
            f"{len(raw) - body_at - 4} payload bytes"
        )
    if raw[-4:] != b"\r\n\r\n":
        raise ValueError("WARC record missing CRLF CRLF terminator")
    return headers, raw[body_at : body_at + clen]


# --------------------------------------------------------------------------
# DataFrame layer
# --------------------------------------------------------------------------

_URI_PREFIX = "http://corpus.local"


def encode_warc_gz(documents: DataFrame, *, shards: int = 16) -> DataFrame:
    """documents(doc_id, text, lang, source) → (shard, blob): per shard
    one `.warc.gz` byte stream — records sorted by doc_id inside the
    shard (byte-stable), each its own gzip member, members concatenated.
    Grouped Arrow kernel; the shard key is the only shuffle."""
    from pyspark.sql import functions as F

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        members = []
        for row in pdf.itertuples(index=False):
            # Hardening contract (ADVICE r8): a NULL text/lang/source must
            # FAIL the encode, not silently render 'None'/'' into the wire
            # bytes while the decode oracle propagates SQL NULLs — that
            # divergence would surface as a driver hash mismatch far from
            # its cause the day the testdata grows a NULL.
            for field in ("text", "lang", "source"):
                v = getattr(row, field)
                if v is None or (isinstance(v, float) and pd.isna(v)):
                    raise ValueError(
                        f"NULL {field} for doc_id={int(row.doc_id)}: "
                        "warc encode requires non-null text/lang/source"
                    )
            payload = row.text.encode("utf-8")
            rec = warc_record(
                {
                    "WARC-Type": "response",
                    "WARC-Record-ID": f"<urn:doc:{int(row.doc_id)}>",
                    "WARC-Target-URI": (
                        f"{_URI_PREFIX}/{row.source}/{int(row.doc_id)}"
                    ),
                    "WARC-Date": "2024-01-01T00:00:00Z",
                    "WARC-Identified-Content-Language": row.lang,
                    "Content-Type": "text/plain; charset=utf-8",
                },
                payload,
            )
            members.append(gzip_member(rec))
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "blob": [b"".join(members)]}
        )

    keyed = documents.select(
        "doc_id",
        "text",
        "lang",
        "source",
        (F.col("doc_id") % shards).alias("shard"),
    )
    return keyed.groupBy("shard").applyInPandas(
        enc, schema="shard int, blob binary"
    )


def decode_warc_gz(blobs: DataFrame) -> DataFrame:
    """(shard, blob) → one row per record: doc_id, target_uri, lang,
    content_length, text. Narrow Arrow map — each task splits its own
    members (the boundary-parallel property .warc.gz exists for)."""

    # One row per archive MEMBER, several per blob, so this kernel keeps
    # its own batch loop instead of sizing.map_rows.
    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                for member in gunzip_members(bytes(blob)):
                    h, payload = parse_warc(member)
                    rid = h["WARC-Record-ID"]
                    if not (rid.startswith("<urn:doc:") and rid.endswith(">")):
                        raise ValueError(f"unexpected WARC-Record-ID {rid!r}")
                    rows.append(
                        (
                            int(rid[9:-1]),
                            h["WARC-Target-URI"],
                            h["WARC-Identified-Content-Language"] or None,
                            int(h["Content-Length"]),
                            payload.decode("utf-8"),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "target_uri",
                    "lang",
                    "content_length",
                    "text",
                ],
            )

    return blobs.select("blob").mapInPandas(
        dec,
        schema=(
            "doc_id long, target_uri string, lang string,"
            " content_length long, text string"
        ),
    )
