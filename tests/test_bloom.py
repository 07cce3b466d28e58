"""Per-stripe bloom filters: point-lookup stripe pruning on hash-bucketed
keys (the BloomFilter-stream analog, reference src/proto.rs:100-111)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from orc_format_spark import bloom, pipeline, transcripts


def test_bloom_membership_and_fp_rate():
    keys = [f"conv-{i:06d}" for i in range(2000)]
    blob = bloom.build(keys)
    assert all(bloom.might_contain(blob, k) for k in keys)  # no false negatives
    probes = [f"absent-{i:06d}" for i in range(5000)]
    fp = sum(bloom.might_contain(blob, p) for p in probes) / len(probes)
    assert fp < 0.02, f"false-positive rate too high: {fp}"
    assert len(blob) <= 8 * 1024  # ~1.5 bits/key/8 per byte + pow2 rounding


def test_bloom_int_keys():
    vals = np.arange(0, 100000, 7, dtype=np.int64)
    blob = bloom.build(vals)
    assert bloom.might_contain(blob, 7) and bloom.might_contain(blob, 99995)
    misses = sum(bloom.might_contain(blob, int(v)) for v in range(1, 5000, 7))
    assert misses < 100  # mostly pruned


def test_empty_bloom_never_prunes():
    assert bloom.might_contain(b"", "anything") is True


def test_point_lookup_prunes_stripes(spark, tmp_path):
    """decode_job(key_equals=...): only bloom-matching stripes are decoded;
    the result still contains exactly the looked-up conversation."""
    out = str(tmp_path / "enc")
    df = transcripts.generate(spark, n_convs=300, seed=21)
    pipeline.encode_job(spark, df, out, stripe_rows=500, n_buckets=16)

    target = df.select("conv_id").first()["conv_id"]
    got = (pipeline.decode_job(spark, out, key_equals=target)
           .filter(F.col("conv_id") == target)
           .orderBy("turn_idx").toPandas())
    exp = (df.filter(F.col("conv_id") == target)
           .orderBy("turn_idx").toPandas())
    import pandas as pd
    pd.testing.assert_frame_equal(exp.reset_index(drop=True),
                                  got[exp.columns.tolist()].reset_index(drop=True),
                                  check_dtype=False)

    # pruning really happens: the bloom probe keeps only a small fraction
    # of the 16 stripes (hash-bucketed conv_ids -> min/max never prunes)
    blooms = [r["key_bloom"] for r in pipeline._log(out)[0]
              if r["status"] == "ok"]
    hits = sum(bloom.might_contain(b or b"", target) for b in blooms)
    assert hits <= 3, f"bloom pruned nothing: {hits}/16 stripes survive"
    assert hits >= 1


def test_absent_key_prunes_everything(spark, tmp_path):
    out = str(tmp_path / "enc2")
    df = transcripts.generate(spark, n_convs=100, seed=22)
    pipeline.encode_job(spark, df, out, stripe_rows=500, n_buckets=8)
    got = pipeline.decode_job(spark, out, key_equals="no-such-conversation")
    assert got.count() == 0


def test_legacy_unversioned_blob_never_prunes():
    """Blobs without the 0xB1 version byte (earlier builds of this engine,
    old stripes in a resumed table) must not be probed with today's hash
    scheme — mismatched hashes would yield false NEGATIVES that silently
    drop stripes. Unknown version => might_contain is True (no pruning)."""
    blob = bloom.build(["a", "b", "c"])
    assert blob[0] == bloom.VERSION_BYTE
    # legacy layout: varint k first (always < 0x80), no version byte
    legacy = blob[1:]
    assert legacy[0] < 0x80
    assert bloom.might_contain(legacy, "definitely-not-a-member") is True
    # and an explicitly foreign version byte
    foreign = bytes([0xB2]) + blob[1:]
    assert bloom.might_contain(foreign, "definitely-not-a-member") is True


def test_might_contain_many_matches_scalar_probe():
    """The vectorized manifest probe must agree bit-for-bit with the scalar
    probe on every blob shape: versioned hit/miss, differing n_bits sizes
    (mixed groups), empty, legacy-unversioned, foreign version byte."""
    import numpy as np
    small = bloom.build([f"conv-{i}" for i in range(10)])
    big = bloom.build([f"conv-{i}" for i in range(5000)])
    legacy = small[1:]
    foreign = bytes([0xB2]) + small[1:]
    blobs = [small, big, b"", legacy, foreign,
             bloom.build([]), bloom.build(["conv-3"], k=4)]
    for probe_val in ["conv-3", "conv-4999", "definitely-absent", 42]:
        want = [bloom.might_contain(bytes(b), probe_val) for b in blobs]
        got = bloom.might_contain_many(blobs, probe_val)
        assert got.tolist() == want, probe_val
    # int-keyed blooms through the batch path too
    iblobs = [bloom.build(np.arange(100)), bloom.build(np.arange(100, 200))]
    got = bloom.might_contain_many(iblobs, 150)
    assert got.tolist() == [bloom.might_contain(b, 150) for b in iblobs]


def test_might_contain_many_is_fast_at_manifest_scale():
    """100k-row manifest probe in well under a second (the r4-flagged
    per-row path re-parsed headers and unpacked whole bitsets per blob)."""
    import time
    blobs = [bloom.build([f"conv-{j}-{i}" for i in range(50)])
             for j in range(200)] * 500           # 100_000 blobs
    t0 = time.perf_counter()
    got = bloom.might_contain_many(blobs, "conv-7-13")
    dt = time.perf_counter() - t0
    assert len(got) == 100_000 and got.any()
    assert dt < 1.0, f"batch probe too slow: {dt:.2f}s for 100k blobs"


def test_truncated_blob_batch_probe_never_prunes():
    """A blob whose header claims more bitset bytes than it carries must
    never prune, in BOTH probes: the batch gather would otherwise read the
    NEXT blob's bytes, and the scalar unpackbits zero-pads the missing
    bits — either way a set bit can read as 0 and falsely drop a stripe."""
    from orc_format_spark import bloom
    good = bloom.build([1, 2, 3])
    truncated = good[: len(good) - 4]
    out = bloom.might_contain_many([good, truncated, good], 2)
    assert out.tolist() == [True, True, True]
    out2 = bloom.might_contain_many([good, truncated, good], 999)
    assert out2.tolist()[1] is True, "truncated blob must never prune"
    assert out2.tolist()[0] is False and out2.tolist()[2] is False
    assert bloom.might_contain(truncated, 2) is True
    assert bloom.might_contain(truncated, 999) is True


def test_scalar_and_batch_probes_agree():
    from orc_format_spark import bloom
    blobs = [bloom.build(list(range(i, i + 50))) for i in range(0, 300, 50)]
    for probe in (0, 49, 50, 120, 299, 5000, "x"):
        batch = bloom.might_contain_many(blobs, probe).tolist()
        scalar = [bloom.might_contain(b, probe) for b in blobs]
        assert batch == scalar, probe
