"""ORC-style block compression framing with the is-original escape.

Parity with the reference (/root/reference/src/read/decompress/mod.rs):
  - 3-byte little-endian chunk header; bit 0 = is_original, length =
    header >> 1 (decompress/mod.rs:9-17; tests:154-177:
    [0x0b,0x00,0x00] -> original len 5, [0x40,0x0d,0x03] -> compressed
    len 100_000)
  - compressed chunks are RAW DEFLATE (flate2 DeflateDecoder ==
    zlib wbits=-15) (decompress/mod.rs:56-66)
  - chunks are sized by compression_block_size; a chunk that does not
    shrink is stored original (the escape hatch, SURVEY.md §4)

Determinism: zlib level 6, default strategy — pinned so re-encoding a stripe
reproduces identical bytes for the lineage checksum/resume path.
"""

from __future__ import annotations

import zlib

DEFAULT_BLOCK_SIZE = 256 * 1024
_LEVEL = 6


def frame(raw: bytes, block_compress,
          block_size: int = DEFAULT_BLOCK_SIZE) -> bytes:
    """ORC chunk framing (3-byte LE header, bit0 = is_original) over an
    arbitrary per-block compressor — the framing is codec-independent in
    the format; only the block codec differs between ZLIB/SNAPPY/LZ4/ZSTD
    sections (decompress/mod.rs:24-93)."""
    out = bytearray()
    for i in range(0, len(raw), block_size):
        chunk = raw[i:i + block_size]
        comp = block_compress(chunk)
        if len(comp) < len(chunk):
            header = len(comp) << 1  # bit0=0 -> compressed
            out += header.to_bytes(3, "little")
            out += comp
        else:
            header = (len(chunk) << 1) | 1  # bit0=1 -> original
            out += header.to_bytes(3, "little")
            out += chunk
    return bytes(out)


def _deflate_block(chunk: bytes) -> bytes:
    co = zlib.compressobj(_LEVEL, zlib.DEFLATED, -15)
    return co.compress(chunk) + co.flush()


def compress(raw: bytes, block_size: int = DEFAULT_BLOCK_SIZE) -> bytes:
    """Frame + raw-deflate ``raw`` in chunks of ``block_size``."""
    return frame(raw, _deflate_block, block_size)


def unframe(buf: bytes, inner) -> bytes:
    """Inverse of :func:`frame`: walks the chunk headers to exhaustion,
    keeping original chunks and passing the others to ``inner``."""
    out = bytearray()
    pos, n = 0, len(buf)
    while pos < n:
        header = int.from_bytes(buf[pos:pos + 3], "little")
        pos += 3
        length = header >> 1
        chunk = buf[pos:pos + length]
        if len(chunk) != length:
            raise ValueError("truncated compression chunk")
        pos += length
        out += chunk if header & 1 else inner(chunk)
    return bytes(out)


def _inflate_block(chunk: bytes) -> bytes:
    return zlib.decompress(chunk, -15)


def decompress(buf: bytes) -> bytes:
    """Inverse of :func:`compress`."""
    return unframe(buf, _inflate_block)
