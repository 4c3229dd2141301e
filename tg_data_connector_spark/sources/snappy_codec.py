"""Snappy containers for the file reader's codec switch.

The reference's unstructured-storage reader decodes a codec family keyed by
a config string (``UnstructuredStorageReaderUtil.java:117-213``), including
``hadoop-snappy`` (Hadoop's BlockCompressorStream container) and
``framing-snappy`` (the snappy framing format). No Spark/Hadoop codec reads
framing-snappy, and Hadoop's ``SnappyCodec`` only reads ``.snappy``-named
files as UTF-8 text, so this module parses both containers itself:

  * raw snappy:      google/snappy format_description.txt, decoded and
                     encoded by pyarrow's bundled C++ snappy (pyarrow is on
                     every executor for the Arrow UDFs); only the varint
                     preamble is read here, to size and bound the output;
  * framing-snappy:  google/snappy framing_format.txt (stream identifier,
                     per-chunk masked CRC32C, compressed/uncompressed/
                     padding/skippable chunk types);
  * hadoop-snappy:   Hadoop BlockCompressorStream layout (big-endian
                     uncompressed-block length, then one or more big-endian
                     length-prefixed raw-snappy chunks per block).

Decode runs executor-side inside the whole-file reader pass
(``files._whole_file_lines``). Raw blocks decode at native speed; the
framing format's CRC32C check is pure Python (no native crc32c is
installed) and bounds framing-snappy throughput (BENCH.md, snappy table).

The writer half (`framing_snappy_compress` / `hadoop_snappy_compress`)
exists for fixtures and round-trip tests, not as a production compressor.
"""

from __future__ import annotations

import struct

import pyarrow as pa

_MASK_DELTA = 0xA282EAD8
_CRC32C_POLY = 0x82F63B78
_crc32c_table: list[int] | None = None


def _crc32c(data: bytes) -> int:
    global _crc32c_table
    if _crc32c_table is None:
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ _CRC32C_POLY if c & 1 else c >> 1
            tbl.append(c)
        _crc32c_table = tbl
    crc = 0xFFFFFFFF
    tbl = _crc32c_table
    for b in data:
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    crc = _crc32c(data)
    return (((crc >> 15) | (crc << 17)) + _MASK_DELTA) & 0xFFFFFFFF


# The densest snappy element is a 3-byte copy of 64 bytes (a 2-byte copy
# emits at most 11, a literal one byte per input byte), so a valid block
# expands at most 64/3 = 21.33x (1 MB of zeros: 21.32x). The preamble is
# untrusted and pyarrow allocates it up front: anything larger is corrupt.
_MAX_EXPANSION = 22


def snappy_decompress(data: bytes) -> bytes:
    """Raw snappy block decode (format_description.txt)."""
    # varint-encoded uncompressed length
    pos, shift, expect = 0, 0, 0
    while True:
        if pos >= len(data):
            raise ValueError("snappy: truncated preamble")
        b = data[pos]
        pos += 1
        expect |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 31:
            raise ValueError("snappy: preamble varint too long")
    if expect > _MAX_EXPANSION * len(data):
        raise ValueError(
            f"snappy: corrupt block (preamble says {expect} bytes from "
            f"{len(data)})"
        )
    try:
        return pa.decompress(
            data, decompressed_size=expect, codec="snappy", asbytes=True
        )
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"snappy: corrupt block ({e})") from None


def snappy_compress(data: bytes) -> bytes:
    """Raw snappy block encode (pyarrow's bundled codec)."""
    return pa.compress(data, codec="snappy", asbytes=True)


_STREAM_ID = b"\xff\x06\x00\x00sNaPpY"


def framing_snappy_decompress(data: bytes) -> bytes:
    """Snappy framing format (framing_format.txt): chunked stream with
    per-chunk masked CRC32C over the UNCOMPRESSED payload."""
    if not data.startswith(_STREAM_ID):
        raise ValueError("framing-snappy: missing sNaPpY stream identifier")
    pos, n = 0, len(data)
    out = bytearray()
    while pos < n:
        if pos + 4 > n:
            raise ValueError("framing-snappy: truncated chunk header")
        ctype = data[pos]
        clen = int.from_bytes(data[pos + 1:pos + 4], "little")
        pos += 4
        if pos + clen > n:
            raise ValueError("framing-snappy: truncated chunk body")
        body = data[pos:pos + clen]
        pos += clen
        if ctype == 0xFF:  # stream identifier (may legally repeat)
            if body != b"sNaPpY":
                raise ValueError("framing-snappy: bad stream identifier")
        elif ctype == 0x00:  # compressed data
            crc = int.from_bytes(body[:4], "little")
            chunk = snappy_decompress(body[4:])
            if _masked_crc(chunk) != crc:
                raise ValueError("framing-snappy: CRC mismatch")
            out += chunk
        elif ctype == 0x01:  # uncompressed data
            crc = int.from_bytes(body[:4], "little")
            chunk = body[4:]
            if _masked_crc(chunk) != crc:
                raise ValueError("framing-snappy: CRC mismatch")
            out += chunk
        elif ctype == 0xFE or 0x80 <= ctype <= 0xFD:
            continue  # padding / reserved skippable
        else:  # 0x02..0x7f reserved unskippable
            raise ValueError(
                f"framing-snappy: reserved unskippable chunk 0x{ctype:02x}"
            )
    return bytes(out)


def framing_snappy_compress(data: bytes, chunk: int = 65536) -> bytes:
    out = bytearray(_STREAM_ID)
    for pos in range(0, len(data), chunk) or [0]:
        piece = data[pos:pos + chunk]
        comp = snappy_compress(piece)
        body = _masked_crc(piece).to_bytes(4, "little") + comp
        out.append(0x00)
        out += len(body).to_bytes(3, "little")
        out += body
    return bytes(out)


def hadoop_snappy_decompress(data: bytes) -> bytes:
    """Hadoop BlockCompressorStream container: per block, a big-endian
    uncompressed length followed by big-endian length-prefixed raw-snappy
    chunks until the block is complete."""
    pos, n = 0, len(data)
    out = bytearray()
    while pos < n:
        if pos + 4 > n:
            raise ValueError("hadoop-snappy: truncated block header")
        (block_len,) = struct.unpack(">I", data[pos:pos + 4])
        pos += 4
        got = 0
        while got < block_len:
            if pos + 4 > n:
                raise ValueError("hadoop-snappy: truncated chunk header")
            (clen,) = struct.unpack(">I", data[pos:pos + 4])
            pos += 4
            if pos + clen > n:
                raise ValueError("hadoop-snappy: truncated chunk body")
            chunk = snappy_decompress(data[pos:pos + clen])
            pos += clen
            got += len(chunk)
            out += chunk
        if got != block_len:
            raise ValueError(
                f"hadoop-snappy: block decoded {got}, header said {block_len}"
            )
    return bytes(out)


def hadoop_snappy_compress(data: bytes, block: int = 65536) -> bytes:
    out = bytearray()
    for pos in range(0, len(data), block) or [0]:
        piece = data[pos:pos + block]
        out += struct.pack(">I", len(piece))
        if piece:  # a 0-length block carries no chunks (decoder reads none)
            comp = snappy_compress(piece)
            out += struct.pack(">I", len(comp))
            out += comp
    return bytes(out)
