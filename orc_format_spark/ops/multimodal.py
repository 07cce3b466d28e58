"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata structs.

The decode/feature-extraction kernels are STUBBED (this container has no
image/audio libraries): ``decode_image`` raises ``NotImplementedError``
unless ``fake=True``, in which case a deterministic fake decoder parses our
own 16-byte header. Everything Spark-side — schema, batch shapes,
Arrow kernel signatures, partition-size control for large blobs — is real
and tested, so swapping in a real codec later is a one-function change.

All three operators are batch-vectorized over the Arrow binary buffers
directly (offsets + one contiguous byte blob -> numpy views): header
parsing is gather arithmetic, per-image statistics run as one matrix op
per (w,h,c) shape group, frame sampling emits a single strided copy +
zero-copy Arrow binary assembly. No per-row Python anywhere.

Blob framing (our deterministic fake "format"):
    magic  4s  = b"OFMM"
    kind   u8  (0=image, 1=audio, 2=video)
    width  u32 le / sample_rate
    height u32 le / n_samples
    chan   u8
    payload: width*height*chan bytes (or n_samples for audio)
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..pipeline import _binary_view, run_kernel

MAGIC = b"OFMM"
HEADER = 14  # 4s magic + u8 kind + u32 w + u32 h + u8 chan
META_SCHEMA = ("blob_id long, kind string, width int, height int, "
               "channels int, n_bytes long")
FEATURES_SCHEMA = "blob_id long, channel_means array<double>, pixel_std double"
_KIND_NAMES = np.array(["image", "audio", "video", "unknown"])


def make_fake_blob(blob_id: int, kind: int = 0, width: int = 8, height: int = 6,
                   channels: int = 3) -> bytes:
    """Deterministic fake media blob (payload = seeded bytes)."""
    rng = np.random.default_rng([blob_id, kind])
    payload = rng.integers(0, 256, width * height * channels, dtype=np.uint8)
    header = MAGIC + struct.pack("<BIIB", kind, width, height, channels)
    return header + payload.tobytes()


def _pil():
    """Feature probe: the real image codec, when this host has one.
    Returns the PIL.Image module or None (this container has none)."""
    try:
        from PIL import Image
        return Image
    except ImportError:
        return None


def decode_image(blob: bytes, fake: bool = False) -> np.ndarray:
    """Decode one image blob to (h, w, c) uint8. ``fake=True`` always uses
    the deterministic 16-byte-header fake format; otherwise a real codec is
    probed at call time (PIL, when installed) and the loud stub error only
    remains on hosts without one (see README's unsupported-feature matrix)."""
    if not fake:
        Image = _pil()
        if Image is None:
            raise NotImplementedError(
                "real image decoding requires an image library (e.g. "
                "Pillow) not present in this environment; pass fake=True "
                "for the deterministic stub — see README 'Unsupported "
                "features'")
        import io
        arr = np.asarray(Image.open(io.BytesIO(blob)).convert("RGB"))
        return np.ascontiguousarray(arr)
    if blob[:4] != MAGIC:
        raise ValueError("bad magic")
    kind, width, height, channels = struct.unpack("<BIIB", blob[4:14])
    payload = np.frombuffer(blob, dtype=np.uint8, offset=14)
    return payload.reshape(height, width, channels)


def _parse_headers(buf: np.ndarray, offs: np.ndarray):
    """Vectorized header parse: kind/width/height/channels per blob."""
    starts = offs[:-1]
    kind = buf[starts + 4].astype(np.int64)

    def u32(base: int) -> np.ndarray:
        v = buf[starts + base].astype(np.uint32)
        for j in range(1, 4):
            v |= buf[starts + base + j].astype(np.uint32) << np.uint32(8 * j)
        return v.astype(np.int64)

    return kind, u32(5), u32(9), buf[starts + 13].astype(np.int64)


def extract_metadata(df: DataFrame, blob_col: str = "blob",
                     id_col: str = "blob_id") -> DataFrame:
    """Parse headers only (never touches payload bytes beyond the gather) —
    one numpy pass per Arrow batch."""
    def parse(b: pa.RecordBatch) -> pa.Table:
        buf, offs = _binary_view(b, blob_col)
        kind, width, height, chan = _parse_headers(buf, offs)
        return pa.table({"blob_id": b.column(id_col),
                         "kind": _KIND_NAMES[np.minimum(kind, 3)],
                         "width": width, "height": height, "channels": chan,
                         "n_bytes": np.diff(offs)})

    return run_kernel(df, [id_col, blob_col], parse, META_SCHEMA)


def image_features(df: DataFrame, blob_col: str = "blob",
                   id_col: str = "blob_id", fake: bool = True) -> DataFrame:
    """Per-image features (mean per channel, overall std) — one matrix op
    per (w,h,c) shape group. Batch shape note: blobs can be MBs — keep
    Arrow batches small via ``spark.sql.execution.arrow.maxRecordsPerBatch``
    and pre-repartition by size at real scale."""
    if not fake and _pil() is None:
        raise NotImplementedError(
            "real image decoding requires an image library (e.g. Pillow) "
            "not present in this environment; pass fake=True for the "
            "deterministic stub — see README 'Unsupported features'")
    if not fake:
        # real-codec path (active on hosts with Pillow): decode per blob —
        # real formats decode one image at a time; the batch loop stays,
        # the arithmetic is numpy per image
        def feats_real(b: pa.RecordBatch) -> pa.Table:
            means, stds, moffs = [], [], [0]
            for blob in b.column(blob_col).to_pylist():
                img = decode_image(blob).astype(np.float64)
                means.extend(img.reshape(-1, img.shape[2]).mean(axis=0))
                stds.append(img.std())
                moffs.append(len(means))
            return _features(b.column(id_col), moffs, means, stds)

        return run_kernel(df, [id_col, blob_col], feats_real, FEATURES_SCHEMA)

    def feats(b: pa.RecordBatch) -> pa.Table:
        buf, offs = _binary_view(b, blob_col)
        _, width, height, chan = _parse_headers(buf, offs)
        starts = offs[:-1] + HEADER
        n = b.num_rows
        out_std = np.zeros(n)
        voffs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(chan, out=voffs[1:])
        mean_vals = np.zeros(int(voffs[-1]))
        shape_key = width * 1_000_000_000 + height * 1_000 + chan
        for key in np.unique(shape_key):
            sel = np.flatnonzero(shape_key == key)
            w, h, c = (int(width[sel[0]]), int(height[sel[0]]),
                       int(chan[sel[0]]))
            size = w * h * c
            idx = starts[sel][:, None] + np.arange(size)[None, :]
            mat = buf[idx].astype(np.float64)
            ch_means = mat.reshape(len(sel), w * h, c).mean(axis=1)
            out_std[sel] = mat.std(axis=1)
            mean_vals[voffs[sel][:, None] + np.arange(c)[None, :]] = ch_means
        return _features(b.column(id_col), voffs, mean_vals, out_std)

    return run_kernel(df, [id_col, blob_col], feats, FEATURES_SCHEMA)


def _features(ids, mean_offsets, means, stds) -> pa.Table:
    """image_features rows: blob i's channel means are
    ``means[mean_offsets[i]:mean_offsets[i + 1]]``."""
    return pa.table({"blob_id": ids,
                     "channel_means": pa.ListArray.from_arrays(
                         pa.array(mean_offsets, pa.int32()),
                         pa.array(np.asarray(means, dtype=np.float64))),
                     "pixel_std": np.asarray(stds, dtype=np.float64)})


def frame_sample(df: DataFrame, blob_col: str = "blob", id_col: str = "blob_id",
                 every: int = 2, fake: bool = True) -> DataFrame:
    """Video frame-sampling plumbing (fake: rows of the image as 'frames');
    one output row per sampled frame. The sampled frames of one shape group
    are ONE strided numpy copy, re-exposed as an Arrow binary array built
    from buffers (no per-frame bytes objects)."""
    if not fake:
        raise NotImplementedError(
            "real video decoding requires a media library not present in "
            "this environment; pass fake=True for the deterministic stub")

    def sample(b: pa.RecordBatch) -> pa.Table:
        ids = b.column(id_col).to_numpy()
        buf, offs = _binary_view(b, blob_col)
        _, width, height, chan = _parse_headers(buf, offs)
        starts = offs[:-1] + HEADER
        shape_key = width * 1_000_000_000 + height * 1_000 + chan
        groups = []
        for key in np.unique(shape_key):
            sel = np.flatnonzero(shape_key == key)
            w, h, c = (int(width[sel[0]]), int(height[sel[0]]),
                       int(chan[sel[0]]))
            frame_rows = np.arange(0, h, every)
            k, nf, fsize = len(sel), len(frame_rows), w * c
            idx = (starts[sel][:, None, None]
                   + (frame_rows * fsize)[None, :, None]
                   + np.arange(fsize)[None, None, :])
            frames = np.ascontiguousarray(buf[idx]).reshape(-1)
            f_offs = (np.arange(k * nf + 1, dtype=np.int32)
                      * np.int32(fsize))
            frame_arr = pa.Array.from_buffers(
                pa.binary(), k * nf,
                [None, pa.py_buffer(f_offs.tobytes()),
                 pa.py_buffer(frames.tobytes())])
            groups.append(pa.table({"blob_id": np.repeat(ids[sel], nf),
                                    "frame_idx": np.tile(frame_rows, k),
                                    "frame": frame_arr}))
        return pa.concat_tables(groups)

    return run_kernel(df, [id_col, blob_col], sample,
                      "blob_id long, frame_idx int, frame binary")
