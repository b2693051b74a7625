"""Pure-Python ZIP archive codec — the 12th real in-repo container
format (after WAV/BMP/PNG/JPEG/MP4/AVI/GIF/TIFF/EXIF + gzip/WARC).

Bulk corpus drops routinely arrive as ZIP archives (the other half of
the archive-ingestion story beside `.warc.gz`); this implements the
subset of PKWARE's public APPNOTE.TXT a corpus ingester needs — local
file headers, the central directory, the end-of-central-directory
locator, STORED (0) and DEFLATE (8) members — with stdlib zlib/struct
only, over Arrow batches. Writer is byte-stable (DOS time pinned to 0);
reader locates the EOCD by backward signature scan (the spec's own
method), walks the central directory, cross-checks each entry against
its local header, and verifies CRC-32 plus both sizes per member.

Same hardening discipline as warc_py/bson_py: every read
bounds-checks, every mismatch (signature, name, method, CRC, size)
raises ValueError naming both values — never a silent wrong decode.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

__all__ = ["zip_archive", "unzip_archive", "encode_zip", "decode_zip"]

_LFH_SIG = b"PK\x03\x04"
_CDH_SIG = b"PK\x01\x02"
_EOCD_SIG = b"PK\x05\x06"

STORED, DEFLATED = 0, 8


def zip_archive(members: list[tuple[str, bytes, int]]) -> bytes:
    """[(name, data, method)] → one ZIP archive (deterministic bytes)."""
    out = bytearray()
    central = bytearray()
    for name, data, method in members:
        if method not in (STORED, DEFLATED):
            raise ValueError(f"unsupported ZIP method {method}")
        raw = data
        if method == DEFLATED:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            raw = co.compress(data) + co.flush()
        fname = name.encode("utf-8")
        # general-purpose bit 11 declares UTF-8 names (APPNOTE D.2);
        # without it readers decode CP437, mangling non-ASCII names
        flags = 0 if fname.isascii() else 0x0800
        crc = zlib.crc32(data) & 0xFFFFFFFF
        offset = len(out)
        fixed = struct.pack(
            "<HHHHHIIIHH",
            20,  # version needed
            flags,
            method,
            0,  # mod time (pinned)
            0,  # mod date (pinned)
            crc,
            len(raw),
            len(data),
            len(fname),
            0,  # extra len
        )
        out += _LFH_SIG + fixed + fname + raw
        central += (
            _CDH_SIG
            + struct.pack("<H", 20)  # version made by; `fixed` already
            # leads with version-needed, so it is NOT repeated here
            + fixed
            + struct.pack("<HHHII", 0, 0, 0, 0, offset)
            # comment len, disk start, internal attrs, external attrs,
            # local header offset
            + fname
        )
    eocd = _EOCD_SIG + struct.pack(
        "<HHHHIIH",
        0,
        0,
        len(members),
        len(members),
        len(central),
        len(out),
        0,
    )
    return bytes(out + central + eocd)


def unzip_archive(blob: bytes) -> list[tuple[str, bytes, int]]:
    """One archive → [(name, data, method)], fully cross-checked."""
    n = len(blob)
    at = blob.rfind(_EOCD_SIG)
    if at < 0:
        raise ValueError("no ZIP end-of-central-directory signature")
    if n - at < 22:
        raise ValueError("truncated ZIP EOCD record")
    (_d0, _d1, _on_disk, total, cd_size, cd_off, _clen) = struct.unpack_from(
        "<HHHHIIH", blob, at + 4
    )
    if cd_off + cd_size > at:
        raise ValueError(
            f"ZIP central directory [{cd_off}, {cd_off + cd_size}) "
            f"overruns EOCD at {at}"
        )
    out: list[tuple[str, bytes, int]] = []
    p = cd_off
    for _ in range(total):
        if blob[p : p + 4] != _CDH_SIG:
            raise ValueError(
                f"bad central-directory signature at byte {p}: "
                f"{blob[p:p + 4].hex()}"
            )
        # Hardening contract (ADVICE r8): a truncated directory must
        # raise the module's named ValueError, not struct.error.
        if p + 46 > n:
            raise ValueError(
                f"truncated central directory entry at byte {p}"
            )
        (
            _made,
            _need,
            flags,
            method,
            _mt,
            _md,
            crc,
            csize,
            usize,
            fnlen,
            extralen,
            clen,
            _disk,
            _iattr,
            _eattr,
            lfh_off,
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", blob, p + 4)
        if p + 46 + fnlen > n:
            raise ValueError(
                f"truncated central directory entry at byte {p}"
            )
        enc = "utf-8" if flags & 0x0800 else "cp437"
        name = blob[p + 46 : p + 46 + fnlen].decode(enc)
        p += 46 + fnlen + extralen + clen
        # cross-check against the local header
        if blob[lfh_off : lfh_off + 4] != _LFH_SIG:
            raise ValueError(f"bad local-header signature for {name!r}")
        (
            _lneed,
            lflags,
            lmethod,
            _lt,
            _ld,
            lcrc,
            lcsize,
            lusize,
            lfnlen,
            lextralen,
        ) = struct.unpack_from("<HHHHHIIIHH", blob, lfh_off + 4)
        lname = blob[lfh_off + 30 : lfh_off + 30 + lfnlen].decode(
            "utf-8" if lflags & 0x0800 else "cp437"
        )
        if (lname, lmethod, lcrc, lcsize, lusize) != (
            name,
            method,
            crc,
            csize,
            usize,
        ):
            raise ValueError(
                f"central/local header mismatch for {name!r}: "
                f"{(lname, lmethod, lcrc, lcsize, lusize)} != "
                f"{(name, method, crc, csize, usize)}"
            )
        data_at = lfh_off + 30 + lfnlen + lextralen
        raw = blob[data_at : data_at + csize]
        if len(raw) != csize:
            raise ValueError(f"truncated member data for {name!r}")
        if method == STORED:
            data = raw
        elif method == DEFLATED:
            do = zlib.decompressobj(-15)
            try:
                data = do.decompress(raw) + do.flush()
            except zlib.error as e:
                raise ValueError(
                    f"corrupt DEFLATE member {name!r}: {e}"
                ) from e
        else:
            raise ValueError(f"unsupported ZIP method {method} for {name!r}")
        if len(data) != usize:
            raise ValueError(
                f"size mismatch for {name!r}: declared {usize}, "
                f"inflated {len(data)}"
            )
        got = zlib.crc32(data) & 0xFFFFFFFF
        if got != crc:
            raise ValueError(
                f"CRC mismatch for {name!r}: header {crc:#010x} "
                f"!= computed {got:#010x}"
            )
        out.append((name, data, method))
    return out


# --------------------------------------------------------------------------
# DataFrame layer
# --------------------------------------------------------------------------


def encode_zip(documents: DataFrame, *, shards: int = 16) -> DataFrame:
    """documents → (shard, blob): one ZIP per shard, members named
    ``{doc_id}.txt`` sorted by doc_id, method alternating STORED/DEFLATE
    by doc_id parity so both code paths run on real data."""
    from pyspark.sql import functions as F

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        # NULL text must fail the encode (ADVICE r8) — a silent ''
        # member diverges from the decode oracle's SQL-NULL propagation.
        if pdf["text"].isna().any():
            bad = int(pdf.loc[pdf["text"].isna(), "doc_id"].iloc[0])
            raise ValueError(
                f"NULL text for doc_id={bad}: zip encode requires "
                "non-null text"
            )
        members = [
            (
                f"{int(r.doc_id)}.txt",
                r.text.encode("utf-8"),
                DEFLATED if int(r.doc_id) % 2 else STORED,
            )
            for r in pdf.itertuples(index=False)
        ]
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "blob": [zip_archive(members)],
            }
        )

    keyed = documents.select(
        "doc_id", "text", (F.col("doc_id") % shards).alias("shard")
    )
    return keyed.groupBy("shard").applyInPandas(
        enc, schema="shard int, blob binary"
    )


def decode_zip(blobs: DataFrame) -> DataFrame:
    """(shard, blob) → one row per member: doc_id, method, n_bytes,
    text. Narrow Arrow map; CRC + sizes verified per member."""

    # One row per archive MEMBER, several per blob, so this kernel keeps
    # its own batch loop instead of sizing.map_rows.
    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                for name, data, method in unzip_archive(bytes(blob)):
                    if not name.endswith(".txt"):
                        raise ValueError(f"unexpected member name {name!r}")
                    rows.append(
                        (
                            int(name[:-4]),
                            int(method),
                            len(data),
                            data.decode("utf-8"),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "method", "n_bytes", "text"]
            )

    return blobs.select("blob").mapInPandas(
        dec, schema="doc_id long, method int, n_bytes long, text string"
    )
