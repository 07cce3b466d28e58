"""Real ORC file reader (pure Python, read-only interop).

Parses the ORC v1 tail — PostScript / Footer / StripeFooter protobufs, the
structure the reference reads in src/read/mod.rs:46-159 — and decodes column
streams with THIS ENGINE'S codecs (rle_v2, rle_v1 for 0.11-era files,
boolean_rle, deflate framing), proving byte-level interop with files
produced by the Apache ORC writers (tests write via pyarrow.orc == ORC C++
and read back here).

Everything is from the public ORC v1 specification. The protobuf field
numbers mirror the reference's proto.rs (itself derived from the public
orc_proto.proto):
  PostScript   (proto.rs Footer tail): 1 footerLength, 2 compression,
               3 compressionBlockSize, 5 metadataLength, 8000 magic
  Footer       (proto.rs:206-217): 3 stripes, 4 types, 6 numberOfRows,
               8 rowIndexStride
  StripeInformation (proto.rs): 1 offset, 2 indexLength, 3 dataLength,
               4 footerLength, 5 numberOfRows
  Type         (proto.rs:184-203): 1 kind, 2 subtypes, 3 fieldNames
  StripeFooter (proto.rs): 1 streams, 2 columns(encodings)
  Stream       (proto.rs:127-136): 1 kind, 2 column, 3 length
  ColumnEncoding (proto.rs): 1 kind, 2 dictionarySize

Scope: kinds boolean/byte/short/int/long/float/double/string/char/varchar/
binary/date/timestamp/decimal plus nested list/struct/map at any depth;
encodings DIRECT/DICTIONARY (RLE v1, ORC 0.11) and DIRECT_V2/DICTIONARY_V2.
Union raises NotImplementedError with a clear message.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .codecs import boolean_rle, deflate, rle_v1, rle_v2, varint

MAGIC = b"ORC"

# Stream kinds (public orc_proto.proto)
PRESENT, DATA, LENGTH, DICTIONARY_DATA, DICTIONARY_COUNT, SECONDARY, ROW_INDEX = range(7)

# Type kinds
_KINDS = ["boolean", "byte", "short", "int", "long", "float", "double",
          "string", "binary", "timestamp", "list", "map", "struct", "union",
          "decimal", "date", "varchar", "char", "timestamp_instant"]

# ColumnEncoding kinds
DIRECT, DICTIONARY, DIRECT_V2, DICTIONARY_V2 = range(4)

# ORC timestamps count from 2015-01-01 00:00:00 (in the writer timezone;
# pyarrow writes UTC)
_TS_EPOCH_S = 1420070400


# ---------------------------------------------------------------------------
# minimal protobuf wire-format parser
# ---------------------------------------------------------------------------


def _pb_fields(buf: bytes):
    """Yield (field_number, wire_type, value) for one protobuf message.
    value: int for varint(0)/fixed(1,5), bytes for length-delimited(2)."""
    pos, n = 0, len(buf)
    while pos < n:
        tag, pos = varint.decode_unsigned(buf, pos)
        field, wt = tag >> 3, tag & 7
        if wt == 0:
            v, pos = varint.decode_unsigned(buf, pos)
        elif wt == 1:
            v = int.from_bytes(buf[pos:pos + 8], "little")
            pos += 8
        elif wt == 2:
            ln, pos = varint.decode_unsigned(buf, pos)
            v = buf[pos:pos + ln]
            pos += ln
        elif wt == 5:
            v = int.from_bytes(buf[pos:pos + 4], "little")
            pos += 4
        else:
            raise ValueError(f"unsupported protobuf wire type {wt}")
        yield field, wt, v


def _pb_packed_uints(v) -> list[int]:
    """A repeated uint field: packed bytes or a single varint value."""
    if isinstance(v, int):
        return [v]
    out, pos = [], 0
    while pos < len(v):
        x, pos = varint.decode_unsigned(v, pos)
        out.append(x)
    return out


# ---------------------------------------------------------------------------
# tail structures
# ---------------------------------------------------------------------------


def _parse_postscript(buf: bytes) -> dict:
    ps = {"compression": 0, "compressionBlockSize": 256 * 1024}
    for f, _, v in _pb_fields(buf):
        if f == 1:
            ps["footerLength"] = v
        elif f == 2:
            ps["compression"] = v
        elif f == 3:
            ps["compressionBlockSize"] = v
        elif f == 5:
            ps["metadataLength"] = v
        elif f == 8000:
            ps["magic"] = v
    return ps


def _parse_stripe_info(buf: bytes) -> dict:
    s = {}
    names = {1: "offset", 2: "indexLength", 3: "dataLength",
             4: "footerLength", 5: "numberOfRows"}
    for f, _, v in _pb_fields(buf):
        if f in names:
            s[names[f]] = v
    return s


def _parse_type(buf: bytes) -> dict:
    t = {"subtypes": [], "fieldNames": [], "kind": 0,
         "precision": None, "scale": None}
    for f, _, v in _pb_fields(buf):
        if f == 1:
            t["kind"] = v
        elif f == 2:
            t["subtypes"].extend(_pb_packed_uints(v))
        elif f == 3:
            t["fieldNames"].append(v.decode("utf-8"))
        elif f == 5:
            t["precision"] = v
        elif f == 6:
            t["scale"] = v
    return t


def _parse_footer(buf: bytes) -> dict:
    fo = {"stripes": [], "types": [], "numberOfRows": 0}
    for f, _, v in _pb_fields(buf):
        if f == 3:
            fo["stripes"].append(_parse_stripe_info(v))
        elif f == 4:
            fo["types"].append(_parse_type(v))
        elif f == 6:
            fo["numberOfRows"] = v
        elif f == 8:
            fo["rowIndexStride"] = v
    return fo


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _parse_column_stats(buf: bytes) -> dict:
    """One ColumnStatistics (public orc_proto.proto): numberOfValues=1,
    intStatistics=2 (sint64 min=1/max=2), doubleStatistics=3 (double
    min=1/max=2), stringStatistics=4 (bytes min=1/max=2),
    dateStatistics=7 (sint32 min=1/max=2), timestampStatistics=9
    (minimumUtc=3/maximumUtc=4, millis), hasNull=10."""
    st = {"n": None, "min": None, "max": None, "kind": None, "has_null": None}
    for f, _, v in _pb_fields(buf):
        if f == 1:
            st["n"] = v
        elif f == 2:
            st["kind"] = "int"
            for f2, _, v2 in _pb_fields(v):
                if f2 == 1:
                    st["min"] = _zigzag(v2)
                elif f2 == 2:
                    st["max"] = _zigzag(v2)
        elif f == 3:
            st["kind"] = "double"
            for f2, _, v2 in _pb_fields(v):
                if f2 == 1:
                    st["min"] = np.frombuffer(
                        v2.to_bytes(8, "little"), "<f8")[0].item()
                elif f2 == 2:
                    st["max"] = np.frombuffer(
                        v2.to_bytes(8, "little"), "<f8")[0].item()
        elif f == 4:
            st["kind"] = "string"
            for f2, _, v2 in _pb_fields(v):
                if f2 == 1:
                    st["min"] = v2.decode("utf-8")
                elif f2 == 2:
                    st["max"] = v2.decode("utf-8")
        elif f == 7:
            st["kind"] = "date"
            for f2, _, v2 in _pb_fields(v):
                if f2 == 1:
                    st["min"] = _zigzag(v2)
                elif f2 == 2:
                    st["max"] = _zigzag(v2)
        elif f == 9:
            st["kind"] = "timestamp_ms_utc"
            for f2, _, v2 in _pb_fields(v):
                if f2 == 3:
                    st["min"] = _zigzag(v2)
                elif f2 == 4:
                    st["max"] = _zigzag(v2)
        elif f == 10:
            st["has_null"] = bool(v)
    return st


def _parse_metadata(buf: bytes) -> list[list[dict]]:
    """Metadata section: repeated StripeStatistics (field 1), each a
    repeated ColumnStatistics (field 1) indexed by flattened column id —
    the per-stripe stats the file-level pruning path uses
    (reference models them in src/proto.rs:88-99)."""
    stripes = []
    for f, _, v in _pb_fields(buf):
        if f == 1:
            stripes.append([_parse_column_stats(v2)
                            for f2, _, v2 in _pb_fields(v) if f2 == 1])
    return stripes


def _parse_stripe_footer(buf: bytes) -> dict:
    sf = {"streams": [], "encodings": []}
    for f, _, v in _pb_fields(buf):
        if f == 1:
            st = {"kind": 0, "column": 0, "length": 0}
            for f2, _, v2 in _pb_fields(v):
                if f2 == 1:
                    st["kind"] = v2
                elif f2 == 2:
                    st["column"] = v2
                elif f2 == 3:
                    st["length"] = v2
            sf["streams"].append(st)
        elif f == 2:
            enc = {"kind": 0, "dictionarySize": 0}
            for f2, _, v2 in _pb_fields(v):
                if f2 == 1:
                    enc["kind"] = v2
                elif f2 == 2:
                    enc["dictionarySize"] = v2
            sf["encodings"].append(enc)
    return sf


def _zstd_decompress(chunk: bytes) -> bytes:
    """One raw ZSTD frame via pyarrow's bundled codec (streaming read — the
    frame header does not always carry the content size)."""
    import pyarrow as _pa
    return _pa.input_stream(_pa.py_buffer(chunk), compression="zstd").read()


def _decompress(buf: bytes, compression: int) -> bytes:
    """ORC section decompression: NONE(0) passthrough; ZLIB(1) raw DEFLATE,
    SNAPPY(2), LZO(3) and LZ4(4) via our pure-Python block decoders, ZSTD(5)
    via pyarrow's bundled codec — all under the 3-byte is-original chunk
    framing. The reference `todo!()`s SNAPPY/LZO (decompress/mod.rs:80-93);
    our LZO1X is cross-validated against aircompressor's Java codec (the
    implementation Hadoop/Spark ORC itself uses) in tests/test_lzo.py."""
    if compression == 0:
        return bytes(buf)
    if compression == 1:
        return deflate.decompress(bytes(buf))
    if compression == 2:
        from .codecs import lz77
        return deflate.unframe(bytes(buf), lz77.snappy_decompress)
    if compression == 3:
        from .codecs import lz77
        return deflate.unframe(bytes(buf), lz77.lzo1x_decompress)
    if compression == 4:
        from .codecs import lz77
        return deflate.unframe(bytes(buf), lz77.lz4_decompress)
    if compression == 5:
        return deflate.unframe(bytes(buf), _zstd_decompress)
    raise NotImplementedError(
        f"ORC compression kind {compression} is not one of "
        "NONE/ZLIB/SNAPPY/LZO/LZ4/ZSTD")


# ---------------------------------------------------------------------------
# column decode
# ---------------------------------------------------------------------------


def _streams_for(sf: dict, col: int) -> dict[int, tuple[int, int]]:
    """column id -> {stream kind: (offset, length)} within the stripe."""
    pos = 0
    out = {}
    for st in sf["streams"]:
        if st["column"] == col and st["kind"] != ROW_INDEX:
            out[st["kind"]] = (pos, st["length"])
        pos += st["length"]
    return out


def _read_stream(stripe_buf: bytes, streams: dict, kind: int,
                 compression: int) -> bytes:
    if kind not in streams:
        return b""
    off, ln = streams[kind]
    return _decompress(stripe_buf[off:off + ln], compression)


def _decode_nanos(sec: np.ndarray, nano_enc: np.ndarray) -> np.ndarray:
    """ORC timestamp: DATA = seconds from 2015-01-01, SECONDARY = nanos with
    a 3-bit trailing-zero scale (spec: if the low 3 bits are c != 0, the
    value was divided by 10^(c+1))."""
    scale = (nano_enc & np.uint64(7)).astype(np.int64)
    nanos = (nano_enc >> np.uint64(3)).astype(np.int64)
    mult = np.where(scale == 0, 1, 10 ** (scale + 1)).astype(np.int64)
    nanos = nanos * mult
    us = sec * 1_000_000 + np.where(sec >= 0, nanos // 1000,
                                    np.where(nanos > 0, nanos // 1000, 0))
    # ORC stores negative-second timestamps with positive nanos
    neg_fix = (sec < 0) & (nanos > 0)
    us = np.where(neg_fix, (sec + 1) * 1_000_000 - (1_000_000 - nanos // 1000), us)
    return us


def _decode_column(stripe_buf: bytes, sf: dict, col_id: int, typ: dict,
                   n_rows: int, compression: int,
                   types: list | None = None,
                   bit_skips: dict | None = None) -> pa.Array:
    """``bit_skips``: {(col_id, stream_kind): n} — leading bits to discard
    from a bit-packed stream. Used by the row-group slicing path: a group
    range of a whole-stripe bit sequence starts mid-byte (the RowIndexEntry
    bit offset), so the first bits of the sliced stream belong to earlier
    groups."""
    kind = _KINDS[typ["kind"]]
    enc = sf["encodings"][col_id]
    streams = _streams_for(sf, col_id)

    def _bits(stream: bytes, count: int, stream_kind: int) -> np.ndarray:
        skip = bit_skips.get((col_id, stream_kind), 0) if bit_skips else 0
        if skip:
            return boolean_rle.decode_bools(stream, count + skip)[skip:]
        return boolean_rle.decode_bools(stream, count)

    present = _read_stream(stripe_buf, streams, PRESENT, compression)
    if present:
        valid = _bits(present, n_rows, PRESENT)
        n_valid = int(valid.sum())
    else:
        valid = None
        n_valid = n_rows
    data = _read_stream(stripe_buf, streams, DATA, compression)

    def _scatter(vals_arr: pa.Array) -> pa.Array:
        if valid is None:
            return vals_arr
        idx = np.zeros(n_rows, dtype=np.int64)
        idx[valid] = np.arange(n_valid)
        return vals_arr.take(pa.array(idx, mask=~valid))

    if enc["kind"] not in (DIRECT, DICTIONARY, DIRECT_V2, DICTIONARY_V2):
        raise NotImplementedError(
            f"ORC encoding {enc['kind']} for {kind}")
    # DIRECT/DICTIONARY (no _V2) = the pre-HIVE-8732 integer RLE v1 for
    # every varint-RLE stream of this column (ORC file version 0.11)
    v1 = enc["kind"] in (DIRECT, DICTIONARY)

    def _rle(stream: bytes, count: int, signed: bool) -> np.ndarray:
        if v1:
            return rle_v1.decode(stream, count, signed=signed)
        return rle_v2.decode(stream, count, signed=signed)

    # compound kinds (ORC model: children record only parent-present slots;
    # LIST/MAP carry a LENGTH stream of per-slot element counts)
    if kind == "struct":
        children = [
            _decode_column(stripe_buf, sf, cid, types[cid], n_valid,
                           compression, types, bit_skips)
            for cid in typ["subtypes"]]
        vals_arr = pa.StructArray.from_arrays(children,
                                              names=typ["fieldNames"])
        return _scatter(vals_arr)
    if kind in ("list", "map"):
        length = _read_stream(stripe_buf, streams, LENGTH, compression)
        lengths = _rle(length, n_valid, signed=False).astype(np.int64)
        offsets = np.zeros(n_valid + 1, dtype=np.int64)
        np.cumsum(lengths, out=offsets[1:])
        n_child = int(offsets[-1])
        off_arr = pa.array(offsets.astype(np.int32), type=pa.int32())
        if kind == "list":
            child = _decode_column(stripe_buf, sf, typ["subtypes"][0],
                                   types[typ["subtypes"][0]], n_child,
                                   compression, types, bit_skips)
            vals_arr = pa.ListArray.from_arrays(off_arr, child)
        else:
            keys = _decode_column(stripe_buf, sf, typ["subtypes"][0],
                                  types[typ["subtypes"][0]], n_child,
                                  compression, types, bit_skips)
            items = _decode_column(stripe_buf, sf, typ["subtypes"][1],
                                   types[typ["subtypes"][1]], n_child,
                                   compression, types, bit_skips)
            vals_arr = pa.MapArray.from_arrays(off_arr, keys, items)
        return _scatter(vals_arr)
    if kind == "union":
        # tag bytes (byte RLE); child i holds values in row order for slots
        # tagged i. Rebuilt as an Arrow dense union.
        tags = boolean_rle.decode_bytes(data, n_valid)
        children, offs = [], np.zeros(n_valid, dtype=np.int32)
        for i, cid in enumerate(typ["subtypes"]):
            sel = tags == i
            n_child = int(sel.sum())
            children.append(_decode_column(stripe_buf, sf, cid, types[cid],
                                           n_child, compression, types,
                                           bit_skips))
            offs[sel] = np.arange(n_child, dtype=np.int32)
        vals_arr = pa.UnionArray.from_dense(
            pa.array(tags.astype(np.int8), type=pa.int8()),
            pa.array(offs, type=pa.int32()), children)
        if valid is not None:
            raise NotImplementedError(
                "nullable union slots are not supported by this reader "
                "(see README 'Unsupported features')")
        return vals_arr

    if kind == "boolean":
        vals = _bits(data, n_valid, DATA)
        return _scatter(pa.array(vals))
    if kind == "byte":
        vals = boolean_rle.decode_bytes(data, n_valid).view(np.int8)
        return _scatter(pa.array(vals))
    if kind in ("short", "int", "long", "date"):
        vals = _rle(data, n_valid, signed=True)
        if kind == "date":
            return _scatter(pa.array(vals.astype(np.int32)).cast(pa.date32()))
        t = {"short": pa.int16(), "int": pa.int32(), "long": pa.int64()}[kind]
        return _scatter(pa.array(vals).cast(t))
    if kind in ("float", "double"):
        dt = np.float32 if kind == "float" else np.float64
        vals = np.frombuffer(data, dtype=f"<{'f4' if kind == 'float' else 'f8'}",
                             count=n_valid).astype(dt, copy=False)
        return _scatter(pa.array(vals))
    if kind in ("string", "char", "varchar", "binary"):
        out_type = pa.binary() if kind == "binary" else pa.string()
        length = _read_stream(stripe_buf, streams, LENGTH, compression)
        if enc["kind"] == DICTIONARY_V2:
            ndv = enc["dictionarySize"]
            dict_blob = _read_stream(stripe_buf, streams, DICTIONARY_DATA, compression)
            dlens = _rle(length, ndv, signed=False).astype(np.int64)
            codes = _rle(data, n_valid, signed=False).astype(np.int64)
            offsets = np.zeros(ndv + 1, dtype=np.int64)
            np.cumsum(dlens, out=offsets[1:])
            dict_arr = pa.Array.from_buffers(
                pa.large_binary(), ndv,
                [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(dict_blob)])
            vals_arr = dict_arr.take(pa.array(codes)).cast(out_type)
        else:
            lens = _rle(length, n_valid, signed=False).astype(np.int64)
            offsets = np.zeros(n_valid + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets[1:])
            vals_arr = pa.Array.from_buffers(
                pa.large_binary(), n_valid,
                [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)])
            vals_arr = vals_arr.cast(out_type)
        return _scatter(vals_arr)
    if kind in ("timestamp", "timestamp_instant"):
        sec = _rle(data, n_valid, signed=True) + _TS_EPOCH_S
        nano_enc = _rle(
            _read_stream(stripe_buf, streams, SECONDARY, compression),
            n_valid, signed=False)
        us = _decode_nanos(sec - _TS_EPOCH_S, nano_enc) + _TS_EPOCH_S * 1_000_000
        return _scatter(pa.array(us).cast(pa.timestamp("us")))
    if kind == "decimal":
        scale = typ["scale"] or 0
        prec = typ["precision"] or 38
        try:
            mantissa, _ = varint.decode_signed_array(data, n_valid)
        except ValueError as e:
            if "overflows" in str(e) or "longer than 10" in str(e):
                raise NotImplementedError(
                    "decimal mantissa exceeds 64 bits (|unscaled| >= 2^63): "
                    "wide-mantissa decimal decode is not supported by this "
                    "reader") from e
            raise
        words = np.empty((n_valid, 2), dtype=np.int64)
        words[:, 0] = mantissa
        words[:, 1] = mantissa >> 63
        vals_arr = pa.Array.from_buffers(
            pa.decimal128(prec, scale), n_valid,
            [None, pa.py_buffer(words.tobytes())])
        return _scatter(vals_arr)
    raise NotImplementedError(
        f"unknown ORC type kind '{kind}' (all spec'd kinds — including "
        "struct/list/map/union — are handled; this kind is outside the "
        "ORC v1 type model)")


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def read_orc_bytes(raw: bytes, columns: list[str] | None = None) -> pa.Table:
    """Parse one ORC file from bytes into a pyarrow Table. ``columns``
    prunes the decode to those top-level columns' streams only."""
    if len(raw) < 4 or not raw.startswith(MAGIC):
        raise ValueError("not an ORC file (missing header magic)")
    ps_len = raw[-1]
    ps = _parse_postscript(raw[-1 - ps_len:-1])
    if ps.get("magic", b"ORC") != MAGIC:
        raise ValueError("not an ORC file (PostScript magic mismatch)")
    comp = ps["compression"]
    f_end = len(raw) - 1 - ps_len
    footer = _parse_footer(_decompress(raw[f_end - ps["footerLength"]:f_end], comp))

    root = footer["types"][0]
    if _KINDS[root["kind"]] != "struct":
        raise NotImplementedError("ORC root type must be a struct")
    col_ids, names = _select_fields(root["subtypes"], root["fieldNames"],
                                    columns)

    batches = []
    for si in footer["stripes"]:
        off, ilen, dlen, flen = (si["offset"], si.get("indexLength", 0),
                                 si["dataLength"], si["footerLength"])
        n_rows = si["numberOfRows"]
        sf = _parse_stripe_footer(
            _decompress(raw[off + ilen + dlen:off + ilen + dlen + flen], comp))
        # stream offsets in _streams_for are relative to the stripe start
        # (index streams included — we skip ROW_INDEX entries by kind)
        stripe_buf = raw[off:off + ilen + dlen]
        arrays = [
            _decode_column(stripe_buf, sf, cid, footer["types"][cid],
                           n_rows, comp, footer["types"])
            for cid in col_ids]
        batches.append(pa.RecordBatch.from_arrays(arrays, names=names))
    if not batches:
        # empty file: build schema-only table
        return pa.table({n: pa.array([]) for n in names})
    return pa.Table.from_batches(batches)


def read_orc(path: str, columns: list[str] | None = None) -> pa.Table:
    """Read one ORC file from disk (pure Python tail reader + our codecs)."""
    with open(path, "rb") as f:
        return read_orc_bytes(f.read(), columns=columns)


def read_tail(path: str, probe: int = 16384,
              with_stats: bool = False):
    """(postscript, footer[, stripe_stats]) reading ONLY the file tail —
    the planning read the reference's StripeInformation byte ranges exist
    for (src/read/mod.rs:46-111): one small seek per file, never the data.
    ``with_stats`` additionally parses the Metadata section's per-stripe
    ColumnStatistics (stripe_stats[i][col_id]) for stripe pruning."""
    import os
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        tail_len = min(size, probe)
        f.seek(size - tail_len)
        tail = f.read(tail_len)
        ps_len = tail[-1]
        ps = _parse_postscript(tail[-1 - ps_len:-1])
        need = ps["footerLength"] + ps.get("metadataLength", 0) + ps_len + 1
        if need > tail_len:
            f.seek(size - need)
            tail = f.read(need)
    f_end = len(tail) - 1 - ps_len
    footer = _parse_footer(
        _decompress(tail[f_end - ps["footerLength"]:f_end],
                    ps["compression"]))
    if not with_stats:
        return ps, footer
    m_len = ps.get("metadataLength", 0)
    stats = []
    if m_len:
        m_start = f_end - ps["footerLength"] - m_len
        stats = _parse_metadata(
            _decompress(tail[m_start:m_start + m_len], ps["compression"]))
    return ps, footer, stats


def _stats_may_match(st: dict, op: str, value) -> bool:
    """Can a stripe whose column stats are ``st`` contain a row matching
    ``col <op> value``? Conservative: unknown stats/kinds => True."""
    if not st or st.get("min") is None or st.get("max") is None:
        return True
    lo, hi = st["min"], st["max"]
    try:
        if op == "=":
            return lo <= value <= hi
        if op == "<=":
            return lo <= value
        if op == ">=":
            return hi >= value
        if op == "between":
            vlo, vhi = value
            return not (vhi < lo or vlo > hi)
    except TypeError:
        return True
    return True


def _plan_stripes(paths: list[str], predicate=None):
    """Driver-side planning: tail-only reads -> (plans, meta, names, types,
    n_pruned). ``predicate`` = (col_name, op, value) with op in
    {'=', '<=', '>=', 'between'} prunes stripes whose Metadata-section
    ColumnStatistics prove no row can match — the file-level analog of the
    engine's stripe min/max pruning (values stay exact because the
    caller's residual filter still runs on the surviving stripes)."""
    plans = []        # (path, offset, index_len, data_len, footer_len, rows)
    meta = {}         # path -> (compression, types, col_ids, names)
    names0 = types0 = None
    n_pruned = 0
    for p in paths:
        ps, footer, stats = read_tail(p, with_stats=True)
        root = footer["types"][0]
        if _KINDS[root["kind"]] != "struct":
            raise NotImplementedError("ORC root type must be a struct")
        if names0 is None:
            names0, types0 = root["fieldNames"], footer["types"]
        elif root["fieldNames"] != names0:
            raise ValueError(f"ORC schema mismatch across files: {p}")
        meta[p] = (ps["compression"], footer["types"], root["subtypes"],
                   root["fieldNames"], footer.get("rowIndexStride", 0))
        pred_cid = None
        if predicate is not None and predicate[0] in root["fieldNames"]:
            pred_cid = root["subtypes"][root["fieldNames"].index(predicate[0])]
        for i, si in enumerate(footer["stripes"]):
            if (pred_cid is not None and i < len(stats)
                    and pred_cid < len(stats[i])
                    and not _stats_may_match(stats[i][pred_cid],
                                             predicate[1], predicate[2])):
                n_pruned += 1
                continue
            plans.append((p, si["offset"], si.get("indexLength", 0),
                          si["dataLength"], si["footerLength"],
                          si["numberOfRows"]))
    return plans, meta, names0, types0, n_pruned


def _parse_row_index(buf: bytes) -> list[dict]:
    """RowIndex: repeated RowIndexEntry entry=1; RowIndexEntry: packed
    uint64 positions=1, ColumnStatistics statistics=2."""
    entries = []
    for f, _, v in _pb_fields(buf):
        if f == 1:
            e = {"positions": [], "stats": None}
            for f2, _, v2 in _pb_fields(v):
                if f2 == 1:
                    e["positions"].extend(_pb_packed_uints(v2))
                elif f2 == 2:
                    e["stats"] = _parse_column_stats(v2)
            entries.append(e)
    return entries


def read_row_index(path: str) -> list[dict[int, list[dict]]]:
    """Per stripe: {column_id: [RowIndexEntry dicts]} parsed from the
    stripe's ROW_INDEX streams (positions + per-row-group statistics)."""
    with open(path, "rb") as f:
        raw = f.read()
    ps_len = raw[-1]
    ps = _parse_postscript(raw[-1 - ps_len:-1])
    comp = ps["compression"]
    f_end = len(raw) - 1 - ps_len
    footer = _parse_footer(
        _decompress(raw[f_end - ps["footerLength"]:f_end], comp))
    out = []
    for si in footer["stripes"]:
        off, ilen, dlen, flen = (si["offset"], si.get("indexLength", 0),
                                 si["dataLength"], si["footerLength"])
        sf = _parse_stripe_footer(
            _decompress(raw[off + ilen + dlen:off + ilen + dlen + flen],
                        comp))
        per: dict[int, list[dict]] = {}
        pos = 0
        for s in sf["streams"]:
            if s["kind"] == ROW_INDEX:
                per[s["column"]] = _parse_row_index(
                    _decompress(raw[off + pos:off + pos + s["length"]], comp))
            pos += s["length"]
        out.append(per)
    return out


_POS_SUFFIX = {"raw": 0, "byte": 1, "rle": 1, "bool": 2}


def _pos_category(typ: dict, stream_kind: int,
                  enc_kind: int = DIRECT_V2) -> str:
    """Row-index position shape for a stream (mirror of the writer's
    orc_writer._pos_category — how many codec position values follow the
    chunk offset). Encoding-aware for strings: direct DATA is a raw slab,
    dictionary DATA is an RLE code stream."""
    if stream_kind == PRESENT:
        return "bool"
    k = typ["kind"]
    if k == 0:
        return "bool"                     # boolean DATA
    if k in (1, 13):
        return "byte"                     # byte / union-tag byte RLE
    if k in (5, 6):
        return "raw"                      # raw IEEE floats
    if k in (7, 8, 16, 17, 14):
        if stream_kind == DATA:
            return ("rle" if enc_kind in (DICTIONARY, DICTIONARY_V2)
                    else "raw")
        return "rle"
    return "rle"                          # ints/date/ts/lengths/codes


def _entry_offsets(entries: list, streams: dict, typ: dict,
                   compression: int,
                   enc_kind: int = DIRECT_V2) -> list[dict] | None:
    """Per RowIndexEntry: {stream_kind: (chunk_byte_offset, bit_offset)} —
    the inverse of the writer's packed positions layout (positions walk the
    column's streams in PRESENT, DATA, LENGTH, SECONDARY order; each
    contributes chunk offset [+ in-chunk offset when compressed] + its
    category's codec positions, bit offset last for bit-packed streams).

    Returns None when any auxiliary position is nonzero — an in-chunk
    decompressed offset or a codec pending count (an RLE run / byte-RLE run
    continuing across the group boundary). Slicing at the chunk offset is
    only valid when every group starts a fresh chunk with fresh codec state
    (this writer's layout); Apache writers seek INTO runs via those
    auxiliary positions, so for their files a byte slice would decode
    shifted values (or overshoot). The caller falls back to whole-stripe
    decode."""
    dict_enc = enc_kind in (DICTIONARY, DICTIONARY_V2)
    out = []
    for e in entries:
        pv, i, m = e["positions"], 0, {}
        for kind in (PRESENT, DATA, LENGTH, SECONDARY):
            if kind not in streams:
                continue
            if dict_enc and kind == LENGTH:
                continue      # dictionary LENGTH is stripe-global: no
                #               positions (spec) — sliced decode keeps it whole
            chunk_off = pv[i]
            i += 1
            if compression:
                if pv[i]:                  # offset inside decompressed chunk
                    return None
                i += 1
            cat = _pos_category(typ, kind, enc_kind)
            ns = _POS_SUFFIX[cat]
            bit_off = pv[i + ns - 1] if cat == "bool" else 0
            # codec positions before the bit offset are pending-run counts;
            # nonzero = run spans the boundary, byte slicing is invalid
            if any(pv[i:i + ns - 1] if cat == "bool" else pv[i:i + ns]):
                return None
            i += ns
            m[kind] = (chunk_off, bit_off)
        out.append(m)
    return out


def _slice_stripe_groups(stripe_buf: bytes, sf: dict, types: list,
                         entry_offs: dict, g0: int, g1: int,
                         n_groups: int):
    """(virtual_buf, virtual_sf, bit_skips): every data stream sliced to
    the contiguous row-group range [g0, g1).

    Valid for files from THIS writer because each stride group is encoded
    as its own compressed chunk run with fresh codec state, so a group
    range of a stream is itself a well-formed stream — except bit-packed
    streams, which are one whole-stripe bit sequence chunked at byte
    boundaries: the range's first bits start mid-byte (returned in
    ``bit_skips``) and its last bits can spill into the NEXT group's first
    byte, so bool-category slices extend one group further."""
    new_parts, new_streams, bit_skips = [], [], {}
    pos = 0
    for st in sf["streams"]:
        cid, kind, ln = st["column"], st["kind"], st["length"]
        seg = stripe_buf[pos:pos + ln]
        pos += ln
        if kind == ROW_INDEX:
            continue                       # drop index streams in the view
        offs = entry_offs[cid]
        if kind not in offs[g0]:
            # no positions for this stream (dictionary blob / its LENGTH):
            # it is stripe-global — keep it whole in the sliced view
            new_streams.append(st)
            new_parts.append(seg)
            continue
        cat = _pos_category(types[cid], kind, sf["encodings"][cid]["kind"])
        start, b0 = offs[g0][kind]
        end_g = g1 + 1 if cat == "bool" else g1
        end = offs[end_g][kind][0] if end_g < n_groups else ln
        if cat == "bool":
            bit_skips[(cid, kind)] = b0
        new_streams.append({**st, "length": end - start})
        new_parts.append(seg[start:end])
    return b"".join(new_parts), {**sf, "streams": new_streams}, bit_skips


def _plan_stride_groups(sf: dict, stripe_buf: bytes, compression: int,
                        types: list, pred_cid: int, predicate,
                        stride: int, n_stripe_rows: int):
    """Row-group pruning plan for one stripe: parse its ROW_INDEX streams,
    keep groups whose per-group ColumnStatistics may match, and return
    (runs, n_groups, entry_offs) where runs is the list of maximal
    contiguous (g0, g1) group ranges that survive — each run decodes
    independently, so two matching groups far apart no longer drag the
    whole span between them through the decoders. None when nothing can
    be skipped (no index / all groups match) / 'empty' when NO group
    matches (skip the whole stripe)."""
    ri = {}
    pos = 0
    for st in sf["streams"]:
        if st["kind"] == ROW_INDEX:
            ri[st["column"]] = _parse_row_index(
                _decompress(stripe_buf[pos:pos + st["length"]], compression))
        pos += st["length"]
    if pred_cid not in ri or stride <= 0:
        return None
    n_groups = max((n_stripe_rows + stride - 1) // stride, 1)
    entries = ri[pred_cid]
    if len(entries) != n_groups or n_groups <= 1:
        return None
    keep = [g for g in range(n_groups)
            if _stats_may_match(entries[g]["stats"] or {}, predicate[1],
                                predicate[2])]
    if not keep:
        return "empty"
    runs, start = [], keep[0]
    for prev, g in zip(keep, keep[1:]):
        if g != prev + 1:
            runs.append((start, prev + 1))
            start = g
    runs.append((start, keep[-1] + 1))
    if runs == [(0, n_groups)]:
        return None
    # every column carrying a non-ROW_INDEX stream must have its own
    # n_groups-entry index, or the slicer below cannot compute that
    # stream's group byte ranges — a foreign file that passes the aux-
    # position and predicate-column checks but lacks (or truncates) some
    # OTHER column's ROW_INDEX would otherwise crash with KeyError/
    # IndexError instead of falling back to whole-stripe decode
    data_cids = {st["column"] for st in sf["streams"]
                 if st["kind"] != ROW_INDEX}
    for cid in data_cids:
        if cid not in ri or len(ri[cid]) != n_groups:
            return None
    entry_offs = {}
    for cid in ri:
        offs = _entry_offsets(ri[cid], _streams_for(sf, cid),
                              types[cid], compression,
                              sf["encodings"][cid]["kind"])
        if offs is None:                   # foreign layout: runs/chunks span
            return None                    # group boundaries — don't slice
        entry_offs[cid] = offs
    return runs, n_groups, entry_offs


def _select_fields(col_ids: list, names: list, columns):
    """Top-level projection: keep only the requested (cid, name) pairs, in
    the requested order. None => all columns."""
    if columns is None:
        return list(col_ids), list(names)
    by_name = dict(zip(names, col_ids))
    missing = [c for c in columns if c not in by_name]
    if missing:
        raise KeyError(f"ORC columns not in file: {missing}")
    return [by_name[c] for c in columns], list(columns)


def spark_read_orc(spark, paths: list[str], columns: list[str] | None = None,
                   predicate=None):
    """Distributed read of ORC files through THIS reader — one STRIPE per
    plan row, decoded executor-side with the engine's codecs (not Spark's
    native ORC source).

    Planning reads only each file's tail (PostScript + Footer + Metadata);
    each task then seeks and reads exactly its stripe's byte range, so
    per-task memory is bounded by the largest stripe, not the largest file,
    and a few large .orc files still fan out across the cluster (the r2
    design read whole files, one file per task).

    ``columns`` prunes the read to those top-level columns: only their
    streams are decoded per stripe (the reference's per-column slicing,
    src/read/mod.rs:117-159). ``predicate`` = (col, op, value), op in
    {'=', '<=', '>=', 'between'}, prunes whole stripes via the Metadata
    section's per-stripe ColumnStatistics; it is a PRUNING HINT — surviving
    stripes return all their rows, so keep the exact filter on top (values
    stay exact, matching how PushedFilters compose with Spark filters)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from .pipeline import _tasks

    plans, meta, names0, types0, _ = _plan_stripes(paths, predicate)

    # schema from the type tree (no data read): decode a 0-row probe
    if names0 is None:
        first = read_orc_bytes(open(paths[0], "rb").read(), columns=columns)
        sample_schema = first.schema
    else:
        sel_ids, sel_names = _select_fields(types0[0]["subtypes"], names0,
                                            columns)
        sample_schema = _schema_from_types(types0, sel_ids, sel_names)
    schema = from_arrow_schema(sample_schema)

    pdf = spark.createDataFrame(
        plans, "path string, off long, ilen long, dlen long, flen long, "
               "rows long")
    pdf = pdf.repartition(_tasks(spark, len(plans)))

    def decode(batches):
        for b in batches:
            for row in b.to_pylist():
                p = row["path"]
                comp, types, col_ids, names, stride = meta[p]
                sel_ids, sel_names = _select_fields(col_ids, names, columns)
                with open(p, "rb") as f:
                    f.seek(row["off"])
                    stripe_all = f.read(row["ilen"] + row["dlen"]
                                        + row["flen"])
                sf = _parse_stripe_footer(_decompress(
                    stripe_all[row["ilen"] + row["dlen"]:], comp))
                stripe_buf = stripe_all[:row["ilen"] + row["dlen"]]
                # row-group skipping INSIDE the surviving stripe: decode
                # each maximal contiguous run of possibly-matching groups
                # independently (per the ROW_INDEX per-group stats) — the
                # whole stripe is the single run when nothing prunes
                pieces = [(stripe_buf, sf, None, row["rows"])]
                if (predicate is not None and row["ilen"] > 0 and stride
                        and predicate[0] in names):
                    plan = _plan_stride_groups(
                        sf, stripe_buf, comp, types,
                        col_ids[names.index(predicate[0])], predicate,
                        stride, row["rows"])
                    if plan == "empty":
                        continue          # no group can match: skip stripe
                    if plan is not None:
                        runs, n_groups, entry_offs = plan
                        pieces = []
                        for g0, g1 in runs:
                            buf_r, sf_r, skips_r = _slice_stripe_groups(
                                stripe_buf, sf, types, entry_offs, g0, g1,
                                n_groups)
                            pieces.append(
                                (buf_r, sf_r, skips_r,
                                 min(g1 * stride, row["rows"])
                                 - g0 * stride))
                for buf_r, sf_r, skips_r, n_rows in pieces:
                    arrays = [
                        _decode_column(buf_r, sf_r, cid, types[cid],
                                       n_rows, comp, types, skips_r)
                        for cid in sel_ids]
                    out = pa.RecordBatch.from_arrays(arrays,
                                                     names=sel_names)
                    yield out.cast(sample_schema) \
                        if out.schema != sample_schema else out

    return pdf.mapInArrow(decode, schema)


def _schema_from_types(types: list, col_ids: list, names: list) -> pa.Schema:
    """Arrow schema from a parsed ORC type tree (no data decode needed)."""
    def typ_of(cid: int) -> pa.DataType:
        t = types[cid]
        kind = _KINDS[t["kind"]]
        flat = {"boolean": pa.bool_(), "byte": pa.int8(), "short": pa.int16(),
                "int": pa.int32(), "long": pa.int64(), "float": pa.float32(),
                "double": pa.float64(), "string": pa.string(),
                "char": pa.string(), "varchar": pa.string(),
                "binary": pa.binary(), "date": pa.date32(),
                "timestamp": pa.timestamp("us"),
                "timestamp_instant": pa.timestamp("us")}
        if kind in flat:
            return flat[kind]
        if kind == "decimal":
            return pa.decimal128(t["precision"] or 38, t["scale"] or 0)
        if kind == "struct":
            return pa.struct([(n, typ_of(c))
                              for n, c in zip(t["fieldNames"], t["subtypes"])])
        if kind == "list":
            return pa.list_(typ_of(t["subtypes"][0]))
        if kind == "map":
            return pa.map_(typ_of(t["subtypes"][0]), typ_of(t["subtypes"][1]))
        raise NotImplementedError(f"ORC type kind '{kind}'")
    return pa.schema([(n, typ_of(c)) for n, c in zip(names, col_ids)])
