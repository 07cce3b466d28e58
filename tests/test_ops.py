"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing — correctness on small deterministic inputs."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from orc_format_spark.ops import dedup, multimodal, similarity, text

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMB = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(DOCS)
    d.cache().count()
    return d


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(EMB)
    e.cache().count()
    return e


def test_exact_dedup(spark):
    pdf = pd.DataFrame({"doc_id": [1, 2, 3, 4, 5],
                        "text": ["a", "b", "a", "c", "b"]})
    out = dedup.exact_dedup(spark.createDataFrame(pdf)).toPandas()
    out = out.sort_values("text", ignore_index=True)
    assert out["doc_id"].tolist() == [1, 2, 4]
    assert out["n_copies"].tolist() == [2, 2, 1]


def test_minhash_finds_near_duplicates(spark):
    base = ("spark is a unified analytics engine for large scale data "
            "processing with high level apis") * 3
    rows = [(0, base), (1, base.replace("engine", "motor")),  # near-dup pair
            (2, "completely different content about cooking recipes and food"),
            (3, base), (4, "another unrelated short string")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    pairs = dedup.minhash_lsh_pairs(df, n_hashes=64, bands=16)
    verified = dedup.jaccard_verify(df, pairs, threshold=0.6).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(verified.id_a, verified.id_b)}
    assert (0, 3) in found, f"exact dup pair missed: {found}"
    assert (0, 1) in found or (1, 3) in found, f"near-dup pair missed: {found}"
    assert all(2 not in p and 4 not in p for p in found), f"false positive: {found}"


def test_lsh_bucket_cap_bounds_hot_buckets(spark):
    """A degenerate corpus (many identical boilerplate docs) must not go
    quadratic: with the cap, pair counts stay bounded; the dropped buckets
    are reported by lsh_dropped_buckets."""
    n_boiler = 40
    rows = [(i, "identical boilerplate text repeated " * 6) for i in range(n_boiler)]
    rows += [(100, "a unique document about distributed encoding " * 4),
             (101, "a unique document about distributed encoding " * 4)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    pairs = dedup.minhash_lsh_pairs(df, n_hashes=32, bands=8, bucket_cap=8)
    got = pairs.toPandas()
    # boilerplate bucket (40 members > cap 8) dropped entirely; the small
    # duplicate pair survives
    assert {tuple(sorted((a, b))) for a, b in zip(got.id_a, got.id_b)} == {(100, 101)}
    dropped = dedup.lsh_dropped_buckets(df, n_hashes=32, bands=8, bucket_cap=8).toPandas()
    assert len(dropped) > 0 and (dropped["count"] == n_boiler).all()
    # uncapped control: the hot bucket would contribute 40*39/2 pairs
    uncapped = dedup.minhash_lsh_pairs(df, n_hashes=32, bands=8).count()
    assert uncapped >= n_boiler * (n_boiler - 1) // 2


def test_embedding_dups_multi_table_or_recall(spark, emb):
    """Multi-table OR LSH: a 0.95-cosine (not identical) pair must be
    recalled — the single AND-only table design had vanishing recall."""
    first = emb.orderBy("vec_id").first()
    v = np.array(first["embedding"], dtype=np.float64)
    rng = np.random.default_rng(0)
    for trial in range(5):  # five planted near-dups, all must be found
        w = v + rng.standard_normal(len(v)) * 0.08 * np.linalg.norm(v) / np.sqrt(len(v))
        cos = float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
        assert cos > 0.95, f"planted pair not close enough: {cos}"
        dup = spark.createDataFrame(pd.DataFrame(
            {"vec_id": [900_000 + trial], "embedding": [[float(x) for x in w]]}))
        df = emb.select("vec_id", "embedding").unionByName(
            dup.select("vec_id", F.col("embedding").cast("array<float>").alias("embedding")))
        out = dedup.embedding_cosine_dups(df, threshold=0.93).toPandas()
        found = {tuple(sorted((a, b))) for a, b in zip(out.id_a, out.id_b)}
        assert (int(first["vec_id"]), 900_000 + trial) in found, \
            f"trial {trial}: near-dup pair missed (cos={cos:.4f}): {found}"


def _shingles_ref(t: str, k: int = 5) -> list[int]:
    """One doc's sorted unique k-byte rolling hashes mod 2^61-1 (uint64
    wraparound); a doc shorter than k hashes to the single value 0."""
    p = (1 << 61) - 1
    b = t.encode("utf-8")
    if len(b) < k:
        return [0]
    pows = [pow(1_000_003, k - 1 - i, p) for i in range(k)]
    return sorted({(sum(b[s + j] * pows[j] for j in range(k))
                    % (1 << 64)) % p for s in range(len(b) - k + 1)})


def _minhash_ref(t: str, n_hashes: int = 64) -> list[int]:
    a, b = dedup._minhash_params(n_hashes)
    h = np.array(_shingles_ref(t), dtype=np.uint64)
    return [int(((h * a[i] + b[i]) % np.uint64((1 << 61) - 1)).min())
            for i in range(n_hashes)]


# multi-byte UTF-8, empty and shorter-than-k docs beside ordinary text
MINHASH_TEXTS = ["hello world " * 10, "spark rle codec " * 8, "",
                 "abcd", "ab", "héllo wörld — 日本語のテキスト 🙂 " * 3,
                 "日本"]


def test_minhash_signature_deterministic(spark):
    from orc_format_spark import pipeline
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(range(len(MINHASH_TEXTS))), "text": MINHASH_TEXTS}))
    s1 = dedup.minhash_signatures(df).orderBy("doc_id").toPandas()
    s2 = dedup.minhash_signatures(df).orderBy("doc_id").toPandas()
    assert [list(s) for s in s1["signature"]] == [list(s) for s in s2["signature"]]
    assert [list(s) for s in s1["signature"]] == \
        [_minhash_ref(t) for t in MINHASH_TEXTS]
    # a batch over a SLICED Arrow array (non-zero offset, bytes of other
    # rows on both sides) hashes exactly the rows of the slice
    arr = pa.array(["pad before", *MINHASH_TEXTS, "pad after"]) \
        .slice(1, len(MINHASH_TEXTS))
    batch = pa.RecordBatch.from_arrays([arr], names=["text"])
    runs, hashes = dedup._batch_shingle_hashes(
        *pipeline._binary_view(batch, "text"), 5)
    assert [hashes[runs[i]:runs[i + 1]].tolist()
            for i in range(len(MINHASH_TEXTS))] == \
        [_shingles_ref(t) for t in MINHASH_TEXTS]


@pytest.mark.parametrize("kernel", [
    dedup.minhash_signatures, dedup.shingle_sets, dedup.simhash_signatures,
    text.language_id, text.fingerprint])
def test_string_kernels_reject_null_text(spark, kernel):
    """A null text fails loudly with a ValueError naming the column (a
    buffer view would otherwise hash it as an empty string)."""
    df = spark.createDataFrame([(0, "some text here"), (1, None)],
                               "doc_id long, text string")
    with pytest.raises(Exception, match=r"ValueError: column 'text' has 1 null"):
        kernel(df).collect()


def test_simhash_similar_texts_close(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [base, base.replace("lazy", "hazy"),
                 "entirely different subject matter entirely " * 5]}))
    out = dedup.simhash_signatures(df).orderBy("doc_id").toPandas()
    h = [int(x) + (1 << 63) for x in out["simhash"]]
    d01 = bin(h[0] ^ h[1]).count("1")
    d02 = bin(h[0] ^ h[2]).count("1")
    assert d01 < d02, f"simhash distances: near={d01} far={d02}"
    assert d01 <= 16


def test_embedding_cosine_dups_finds_planted_pair(spark, emb):
    # plant an exact duplicate of the first vector under a new id
    first = emb.orderBy("vec_id").first()
    dup = spark.createDataFrame(
        pd.DataFrame({"vec_id": [999_999], "embedding": [list(first["embedding"])],
                      "label": [int(first["label"])]}))
    df = emb.unionByName(dup)
    out = dedup.embedding_cosine_dups(df, threshold=0.999).toPandas()
    pairs = {tuple(sorted((a, b))) for a, b in zip(out.id_a, out.id_b)}
    assert (int(first["vec_id"]), 999_999) in pairs


def test_brute_force_topk_matches_numpy(spark, emb):
    pdf = emb.orderBy("vec_id").toPandas()
    m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    q = m[0]
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    order = np.lexsort((pdf["vec_id"].to_numpy(), -cos))
    exp = pdf["vec_id"].to_numpy()[order][:10].tolist()
    got = (similarity.brute_force_topk(emb, [float(x) for x in q], k=10)
           .toPandas()["vec_id"].tolist())
    assert got == exp


def test_lsh_topk_recall(spark, emb):
    pdf = emb.orderBy("vec_id").limit(1).toPandas()
    q = [float(x) for x in pdf["embedding"][0]]
    exact = set(similarity.brute_force_topk(emb, q, k=10).toPandas()["vec_id"])
    approx = set(similarity.lsh_topk(emb, q, k=10, n_planes=6, n_probes=4)
                 .toPandas()["vec_id"])
    recall = len(exact & approx) / 10
    assert recall >= 0.3, f"LSH recall too low: {recall}"
    assert pdf["vec_id"][0] in approx, "query vector itself must be found"


def test_quality_metrics_values(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [0, 1, 2],
         "text": ["Hello, world! 123", "", "  a  b  "]}))
    out = text.quality_metrics(df).orderBy("doc_id").toPandas()
    assert out["n_chars"].tolist() == [17, 0, 8]
    assert out["n_tokens"].tolist() == [3, 0, 2]
    assert out["n_digits"].tolist() == [3, 0, 0]
    assert out["n_punct"].tolist() == [2, 0, 0]
    assert out["n_ascii_alpha"].tolist() == [10, 0, 2]


def test_language_id_heuristic(spark):
    # 'İ' and a word-final 'Σ' lowercase differently in Python and in
    # pyarrow's utf8_lower ('i̇' vs 'i', 'ς' vs 'σ'); Python's is the rule
    texts = ["the cat and the dog are sitting in the garden of the house",
             "der hund und die katze sitzen in einem schönen garten",
             "zzz qqq 12345", "İch", "ΟΔΟΣ and ΟΔΟΣ the end"]
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(len(texts))), "text": texts}))
    out = text.language_id(df).orderBy("doc_id").toPandas()
    assert out["lang_pred"].tolist()[0] == "en"
    assert out["lang_pred"].tolist()[1] == "de"
    assert out["lang_pred"].tolist()[2] == "und"

    def ref(t: str) -> str:
        s = " " + t.lower() + " "
        score, lang = max((sum(s.count(g) for g in grams), lang)
                          for lang, grams in text._LANG_PROFILES.items())
        return lang if score > 0 else "und"

    assert out["lang_pred"].tolist() == [ref(t) for t in texts]
    assert out["lang_pred"].tolist()[3] == "und"  # 'i̇ch' holds no 'ich'


def test_fingerprint_robust_to_small_edit(spark):
    base = "a long document about distributed columnar encoding " * 20
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [base, base + " tail edit", "short"]}))
    out = text.fingerprint(df).orderBy("doc_id").toPandas()
    f = out["fingerprint"].tolist()
    assert f[0] == f[1], "min-hash fingerprint should survive a tail edit"
    assert f[0] != f[2]


def test_multimodal_metadata_and_features(spark):
    ids = spark.range(20).select(F.col("id").alias("blob_id"))

    import pandas as pd_
    from collections.abc import Iterator

    def attach(batches: Iterator[pd_.DataFrame]) -> Iterator[pd_.DataFrame]:
        for pdf in batches:
            yield pd_.DataFrame({
                "blob_id": pdf["blob_id"],
                "blob": [multimodal.make_fake_blob(int(i), width=10, height=4)
                         for i in pdf["blob_id"]]})

    blobs = ids.mapInPandas(attach, schema="blob_id long, blob binary")
    meta = multimodal.extract_metadata(blobs).orderBy("blob_id").toPandas()
    assert (meta["width"] == 10).all() and (meta["height"] == 4).all()
    assert (meta["n_bytes"] == 14 + 10 * 4 * 3).all()
    feats = multimodal.image_features(blobs, fake=True).orderBy("blob_id").toPandas()
    assert len(feats) == 20 and all(len(m) == 3 for m in feats["channel_means"])
    frames = multimodal.frame_sample(blobs, every=2, fake=True).toPandas()
    assert len(frames) == 20 * 2  # height 4, every 2 -> 2 frames per blob


def test_real_decode_is_explicit_stub():
    blob = multimodal.make_fake_blob(0)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(blob, fake=False)
    img = multimodal.decode_image(blob, fake=True)
    assert img.shape == (6, 8, 3)


def test_multimodal_vectorized_matches_scalar_decoder(spark):
    """Mixed (w,h,c) shapes in one batch: the shape-grouped vectorized
    kernels must agree exactly with per-blob decode_image."""
    import pandas as pd
    specs = [(0, 10, 4, 3), (1, 8, 6, 3), (2, 10, 4, 3), (3, 5, 5, 1),
             (4, 8, 6, 3)]
    pdf = pd.DataFrame({
        "blob_id": [s[0] for s in specs],
        "blob": [multimodal.make_fake_blob(s[0], width=s[1], height=s[2],
                                           channels=s[3]) for s in specs]})
    blobs = spark.createDataFrame(pdf)
    meta = (multimodal.extract_metadata(blobs)
            .orderBy("blob_id").toPandas())
    assert list(meta["width"]) == [s[1] for s in specs]
    assert list(meta["height"]) == [s[2] for s in specs]
    assert list(meta["channels"]) == [s[3] for s in specs]

    feats = (multimodal.image_features(blobs, fake=True)
             .orderBy("blob_id").toPandas())
    frames = multimodal.frame_sample(blobs, every=2, fake=True).toPandas()
    for bid, w, h, c in specs:
        img = multimodal.decode_image(
            multimodal.make_fake_blob(bid, width=w, height=h, channels=c),
            fake=True)
        got_means = feats[feats["blob_id"] == bid]["channel_means"].iloc[0]
        assert np.allclose(got_means, img.mean(axis=(0, 1)))
        assert np.isclose(
            feats[feats["blob_id"] == bid]["pixel_std"].iloc[0], img.std())
        mine = frames[frames["blob_id"] == bid].sort_values("frame_idx")
        assert list(mine["frame_idx"]) == list(range(0, h, 2))
        for _, r in mine.iterrows():
            assert bytes(r["frame"]) == img[r["frame_idx"]].tobytes()


def test_fingerprint_short_docs_vectorized_pinned(spark):
    """Short docs (< window bytes) hash through the vectorized segmented
    reduceat path; values pinned against the historical per-doc loop
    formula (powers wrap mod 2^64, terms mod 2^61-1, sum wraps, final mod)."""
    texts = ["", "a", "ab", "hello world 15b", "exactly-16-bytes",
             "a long document far past the window size " * 4]
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(range(len(texts))), "text": texts}))
    out = text.fingerprint(df).orderBy("doc_id").toPandas()

    import numpy as np
    mod = np.uint64((1 << 61) - 1)
    base = np.uint64(1_000_003)

    def loop_fp(s: str) -> int:
        b = np.frombuffer(s.encode(), dtype=np.uint8).astype(np.uint64)
        if not len(b):
            return -(1 << 62)
        with np.errstate(over="ignore"):
            p = base ** np.arange(len(b), dtype=np.uint64)
            return int(((b * p) % mod).sum() % mod) - (1 << 62)

    for i, t in enumerate(texts[:4]):  # the genuinely-short docs
        assert out["fingerprint"][i] == loop_fp(t), t
    assert out["fingerprint"][0] == -(1 << 62)  # empty doc sentinel


def _log_files(path, keys=None):
    """The files the index lineage at ``path`` publishes, of ``keys`` (all
    keys when None)."""
    import os
    from orc_format_spark import pipeline
    rows = pipeline._active(pipeline._log(path)[0], path).values()
    return {os.path.join(path, r["path"]) for r in rows
            if keys is None or r["bucket"] in keys}


def _read_files(df):
    """The files ``df``'s scans read."""
    from urllib.parse import urlparse
    return {urlparse(f).path for f in df.inputFiles()}


def test_ann_index_persisted_probe_prunes_partitions(spark, emb, tmp_path):
    """build_ann_index persists one file per bucket; the probe must (a)
    match the transient-path results, (b) read exactly the probed
    buckets' files the lineage names, not the full corpus."""
    path = str(tmp_path / "ann_index")
    index = similarity.build_ann_index(emb, path, n_planes=6, seed=42)
    assert "bucket" in index.columns

    pdf = emb.orderBy("vec_id").limit(1).toPandas()
    q = [float(x) for x in pdf["embedding"][0]]
    got = similarity.probe_ann_index(spark, path, q, k=10, n_probes=4)
    transient = similarity.lsh_topk(emb, q, k=10, n_planes=6, n_probes=4)
    assert (got.toPandas()["vec_id"].tolist()
            == transient.toPandas()["vec_id"].tolist())

    # the probe's scan reads exactly the log's files of the probed buckets
    _, meta = similarity.load_ann_index(spark, path)
    planes = similarity._planes(int(meta["n_planes"]), int(meta["dim"]),
                                int(meta["seed"]))
    probe = similarity._probe_buckets(q, planes, 4)
    assert _read_files(got) == _log_files(path, probe)
    # and fewer files than the index has
    assert len(_log_files(path, probe)) < len(_log_files(path)), \
        "corpus too concentrated to prove pruning"

    # wrong-dimension probes fail loudly instead of bucketizing garbage
    import pytest as _pytest
    with _pytest.raises(ValueError, match="dim"):
        similarity.probe_ann_index(spark, path, q + [0.0], k=10)


def test_multimodal_real_decode_stub_without_pil():
    """Hosts without an image library keep the loud documented stub."""
    import importlib
    if importlib.util.find_spec("PIL") is not None:
        pytest.skip("Pillow installed — stub inactive")
    with pytest.raises(NotImplementedError, match="image library"):
        multimodal.decode_image(b"\x89PNG....")


def test_multimodal_real_decode_with_pil(spark):
    """Feature-probed real codec path: active on any host with Pillow; the
    fake-format path stays the tested fallback everywhere else."""
    Image = pytest.importorskip("PIL.Image")
    import io
    img = Image.new("RGB", (4, 3), (10, 20, 30))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    blob = buf.getvalue()
    arr = multimodal.decode_image(blob)
    assert arr.shape == (3, 4, 3) and (arr[0, 0] == [10, 20, 30]).all()
    df = spark.createDataFrame(pd.DataFrame({"blob_id": [1], "blob": [blob]}))
    out = multimodal.image_features(df, fake=False).toPandas()
    assert list(out["channel_means"][0]) == [10.0, 20.0, 30.0]
    assert out["pixel_std"][0] > 0


def test_probe_ann_index_many_batch_matches_single(spark, emb, tmp_path):
    """Batch probe (the production shape: queries as a DataFrame) over a
    persisted index. 120 planted-duplicate queries: each query vector has
    an exact copy in the corpus (itself), so top-1 per query must be the
    query's own vec_id at cosine ~1.0; a sample of queries must also agree
    with the single-query probe path exactly."""
    path = str(tmp_path / "ann_batch_index")
    similarity.build_ann_index(emb, path, n_planes=6, seed=42)

    src = emb.orderBy("vec_id").limit(120).toPandas()
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": src["vec_id"].astype("int64"),
        "query_vec": src["embedding"]}))
    got = similarity.probe_ann_index_many(spark, path, queries, k=5,
                                          n_probes=4).toPandas()
    top1 = (got.sort_values(["query_id", "cosine", "vec_id"],
                            ascending=[True, False, True])
            .groupby("query_id").head(1))
    assert len(top1) == 120
    assert (top1["query_id"].to_numpy()
            == top1["vec_id"].to_numpy()).all()
    assert (top1["cosine"] > 0.999).all()

    # batch results == single-query probe results for a sample
    for qid in src["vec_id"].tolist()[:3]:
        q = [float(x) for x in
             src.loc[src["vec_id"] == qid, "embedding"].iloc[0]]
        single = similarity.probe_ann_index(spark, path, q, k=5, n_probes=4)
        want = single.toPandas()["vec_id"].tolist()
        have = (got[got["query_id"] == qid]
                .sort_values(["cosine", "vec_id"],
                             ascending=[False, True])["vec_id"].tolist())
        assert have == want, qid

    # small query sets prune: the index scan lists exactly the log's
    # files of the probed buckets, fewer than the index has
    plan_df = similarity.probe_ann_index_many(
        spark, path, queries.limit(5), k=5, n_probes=2,
        prune_partitions=True)
    _, meta = similarity.load_ann_index(spark, path)
    planes = similarity._planes(meta["n_planes"], meta["dim"], meta["seed"])
    probed = {b for v in src["embedding"][:5] for b in
              similarity._probe_buckets([float(x) for x in v], planes, 2)}
    assert _read_files(plan_df) == _log_files(path, probed)
    assert len(_log_files(path, probed)) < len(_log_files(path))


def _brute_ngram_jaccard(texts, k, t):
    """All-pairs word-k-gram Jaccard, independent implementation."""
    sets = {}
    for i, s in texts.items():
        w = s.lower().split()
        if len(w) >= k:
            sets[i] = {" ".join(w[j:j + k]) for j in range(len(w) - k + 1)}
    out = set()
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[ids[x]], sets[ids[y]]
            j = len(a & b) / len(a | b)
            if j >= t:
                out.add((ids[x], ids[y]))
    return out


@pytest.mark.parametrize("threshold", [0.5, 0.8])
def test_ngram_jaccard_matches_bruteforce(spark, threshold):
    """The prefix-filtered set-similarity join is EXACT: against an
    independent all-pairs implementation it must agree pair-for-pair at
    any threshold (recall 1.0 — a lost pair means the prefix length bound
    is wrong; an extra pair means the verify is wrong)."""
    import random
    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(40)]
    texts = {}
    base_docs = []
    for i in range(30):
        doc = rng.choices(vocab, k=rng.randrange(3, 30))
        base_docs.append(doc)
        texts[i] = " ".join(doc)
    # planted near-dups: copy with 0-2 word edits
    for i in range(30, 45):
        doc = list(rng.choice(base_docs))
        for _ in range(rng.randrange(0, 3)):
            doc[rng.randrange(len(doc))] = rng.choice(vocab)
        texts[i] = " ".join(doc)
    texts[45] = "short one"          # < k tokens: must never pair
    texts[46] = ""                   # empty
    df = spark.createDataFrame(
        [(i, s) for i, s in texts.items()], "doc_id long, text string")
    got = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(
        df, k=3, threshold=threshold).collect()}
    exp = _brute_ngram_jaccard(texts, 3, threshold)
    assert got == exp, (sorted(got - exp), sorted(exp - got))
    assert exp, "vacuous test: plant produced no qualifying pairs"


def test_ngram_jaccard_integer_threshold_boundary(spark):
    """t*|s| landing exactly on an integer is where a float-ceil overshoot
    would shrink the prefix below the safe length: |s|=10, t=0.8 needs
    prefix 3 (10 - 8 + 1), and a pair at exactly j=0.8 must survive."""
    # 12 words -> 10 distinct 3-grams each; sharing the first 10 words
    # gives 8 shared 3-grams, union 12 -> j = 8/12; to hit exactly 0.8
    # use sets of size 9 with 8 shared: j = 8/10 = 0.8
    a = " ".join(f"a{i}" for i in range(11))          # 9 3-grams
    b = " ".join([f"a{i}" for i in range(10)] + ["zz"])  # differs in last
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    exp = _brute_ngram_jaccard({0: a, 1: b}, 3, 0.8)
    got = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(
        df, k=3, threshold=0.8).collect()}
    assert got == exp


def test_token_counts_values(spark):
    df = spark.createDataFrame(
        [(0, "Hello, world!  This has 12345 in it."),
         (1, ""),
         (2, "   "),
         (3, "one"),
         (4, "a-b")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in text.token_counts(df).collect()}
    # doc 0: ws tokens = 7; bpe-ish: Hello , world ! This has 123 45 in it .
    assert rows[0].n_ws_tokens == 7
    assert rows[0].n_bpe_tokens == 11
    assert rows[1].n_ws_tokens == 0 and rows[1].n_bpe_tokens == 0
    assert rows[1].chars_per_token_x100 == 0
    assert rows[2].n_ws_tokens == 0 and rows[2].n_bpe_tokens == 0
    assert rows[3].n_ws_tokens == 1 and rows[3].n_bpe_tokens == 1
    assert rows[3].chars_per_token_x100 == 300
    assert rows[4].n_bpe_tokens == 3          # a | - | b


def test_ivf_index_build_probe_and_prune(spark, emb, tmp_path):
    """IVF (spherical-k-means cells): full-probe equals brute force
    exactly, partial probe finds the query itself, the probe reads only
    the probed cells' files, and dim mismatches fail loudly."""
    path = str(tmp_path / "ivf_index")
    index = similarity.build_ivf_index(emb, path, n_lists=8, seed=42,
                                       train_rows=4096)
    assert "list_id" in index.columns
    assert len(_log_files(path)) > 2, "k-means collapsed to too few cells"

    pdf = emb.orderBy("vec_id").limit(1).toPandas()
    q = [float(x) for x in pdf["embedding"][0]]
    exact = similarity.brute_force_topk(emb, q, k=10) \
        .toPandas()["vec_id"].tolist()
    # probing EVERY cell is exhaustive search => must equal brute force
    full = similarity.probe_ivf_index(spark, path, q, k=10, n_probes=8) \
        .toPandas()["vec_id"].tolist()
    assert full == exact
    part = set(similarity.probe_ivf_index(spark, path, q, k=10, n_probes=2)
               .toPandas()["vec_id"])
    assert pdf["vec_id"][0] in part, "query vector itself must be found"
    assert len(set(exact) & part) / 10 >= 0.3

    # the partial probe reads exactly the log's files of the probed cells
    _, meta = similarity.load_ann_index(spark, path)
    qn = similarity._unit_rows(np.asarray([q]))[0]
    lists = np.argsort(-(similarity._centroids(meta) @ qn), kind="stable")[:2]
    probed = similarity.probe_ivf_index(spark, path, q, k=10, n_probes=2)
    assert _read_files(probed) == _log_files(path, set(map(int, lists)))
    assert len(_log_files(path, set(map(int, lists)))) < len(_log_files(path))

    import pytest as _pytest
    with _pytest.raises(ValueError, match="dim"):
        similarity.probe_ivf_index(spark, path, q + [0.0], k=10)
    # probing an LSH index with the IVF prober fails loudly, not garbage
    lsh_path = str(tmp_path / "lsh_index")
    similarity.build_ann_index(emb, lsh_path, n_planes=4, seed=42)
    with _pytest.raises(ValueError, match="IVF"):
        similarity.probe_ivf_index(spark, lsh_path, q, k=10)


def test_probe_ivf_index_many_batch_matches_single(spark, emb, tmp_path):
    """Batch IVF probe returns, per query, exactly the single-probe
    top-k (same cells, same exact ranks), on both join plans."""
    path = str(tmp_path / "ivf_bidx")
    similarity.build_ivf_index(emb, path, n_lists=8, seed=42,
                               train_rows=4096)
    qp = emb.orderBy("vec_id").limit(20).toPandas()
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": qp["vec_id"].to_numpy(),
        "query_vec": [list(map(float, v)) for v in qp["embedding"]]}))
    for prune in (None, False):
        many = similarity.probe_ivf_index_many(
            spark, path, queries, k=5, n_probes=2,
            prune_partitions=prune).toPandas()
        for qid, vec in zip(qp["vec_id"], qp["embedding"]):
            single = similarity.probe_ivf_index(
                spark, path, [float(x) for x in vec], k=5,
                n_probes=2).toPandas()["vec_id"].tolist()
            got = many[many["query_id"] == qid] \
                .sort_values(["cosine", "vec_id"],
                             ascending=[False, True])["vec_id"].tolist()
            assert got == single, f"query {qid} ({prune=})"


# ---- index builds commit through the lineage log: one version per build ----

@pytest.fixture(scope="module")
def small_emb(spark):
    vecs = np.random.default_rng(7).standard_normal((200, 8))
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(200),
                      "embedding": [v.tolist() for v in vecs]}),
        "vec_id long, embedding array<float>")


def _first_vector(emb):
    return [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]


_BUILDS = {
    "ann": (lambda df, p, seed=42: similarity.build_ann_index(
        df, p, n_planes=4, seed=seed), similarity.probe_ann_index),
    "ivf": (lambda df, p, seed=42: similarity.build_ivf_index(
        df, p, n_lists=4, seed=seed), similarity.probe_ivf_index)}


@pytest.mark.parametrize("kind", sorted(_BUILDS))
def test_index_build_over_an_empty_corpus_keeps_the_old_index(
        spark, small_emb, tmp_path, kind):
    """Rebuilding over an empty corpus raises before publishing anything:
    the index already at the path still returns the same top-k."""
    build, probe = _BUILDS[kind]
    path = str(tmp_path / kind)
    build(small_emb, path)
    q = _first_vector(small_emb)
    before = probe(spark, path, q, k=5).toPandas()
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match=f"cannot build an {kind.upper()} "
                                         "index over an empty corpus"):
        build(empty, path)
    pd.testing.assert_frame_equal(probe(spark, path, q, k=5).toPandas(),
                                  before)


@pytest.mark.parametrize("kind", sorted(_BUILDS))
def test_index_build_killed_before_its_version_changes_nothing(
        spark, small_emb, tmp_path, monkeypatch, kind):
    """A build killed at its lineage version (its files already written)
    leaves the old index probing identically and frees the files it
    wrote: no run directory is left that no log row names."""
    import os
    from orc_format_spark import pipeline
    build, probe = _BUILDS[kind]
    path = str(tmp_path / kind)
    build(small_emb, path, seed=1)
    q = _first_vector(small_emb)
    before = probe(spark, path, q, k=5).toPandas()
    log = pipeline._log(path)

    def killed(*args):
        raise RuntimeError("killed at the commit point")

    monkeypatch.setattr(pipeline, "_create_version", killed)
    with pytest.raises(RuntimeError, match="killed"):
        build(small_emb, path, seed=2)
    monkeypatch.undo()
    assert pipeline._log(path) == log
    pd.testing.assert_frame_equal(probe(spark, path, q, k=5).toPandas(),
                                  before)
    runs = {r["run_id"] for r in log[0]}
    assert [d for d in os.listdir(f"{path}/stripes")
            if d.removeprefix("run=") not in runs] == []


def test_index_builds_racing_for_a_version_publish_one_whole_build(
        spark, small_emb, tmp_path, monkeypatch):
    """A build whose lineage version another build took first re-reads
    the log and replaces the winner: the last publish wins, and a probe
    plans from that one run's files only."""
    import os
    from orc_format_spark import pipeline
    path = str(tmp_path / "ann")
    create = pipeline._create_version

    def race(*args):
        monkeypatch.setattr(pipeline, "_create_version", create)
        similarity.build_ann_index(small_emb, path, n_planes=4, seed=1)
        return create(*args)

    monkeypatch.setattr(pipeline, "_create_version", race)
    similarity.build_ann_index(small_emb, path, n_planes=4, seed=2)
    active = pipeline._active(pipeline._log(path)[0], path).values()
    (run,) = {r["run_id"] for r in active}
    assert os.listdir(f"{path}/stripes") == [f"run={run}"]
    assert similarity.load_ann_index(spark, path)[1]["seed"] == 2
    q = _first_vector(small_emb)
    got = similarity.probe_ann_index(spark, path, q, k=5, n_probes=1)
    assert {os.path.dirname(f) for f in _read_files(got)} == {
        f"{path}/stripes/run={run}"}
    want = similarity.lsh_topk(small_emb, q, k=5, n_planes=4, n_probes=1,
                               seed=2)
    assert (got.toPandas()["vec_id"].tolist()
            == want.toPandas()["vec_id"].tolist())


def test_index_rebuilds_free_what_they_supersede(spark, small_emb, tmp_path):
    """Rebuilding at one path keeps disk use and the log flat: one run
    directory and at most 2 lineage files after three builds. A probe
    whose buckets hold no vector reads no file and returns no row."""
    import os
    path = str(tmp_path / "ann")
    for seed in (1, 2, 3):
        similarity.build_ann_index(small_emb, path, n_planes=4, seed=seed)
    assert len(os.listdir(f"{path}/stripes")) == 1
    assert len(os.listdir(f"{path}/lineage")) <= 2
    # a query whose home bucket is empty in an index of one bucket
    one = small_emb.limit(1)
    sparse = str(tmp_path / "sparse")
    similarity.build_ann_index(one, sparse, n_planes=4, seed=3)
    q = [-x for x in _first_vector(one)]  # every sign flips
    got = similarity.probe_ann_index(spark, sparse, q, k=5, n_probes=0)
    assert _read_files(got) == set() and got.count() == 0
    assert got.columns == ["vec_id", "cosine"]


def test_index_paths_without_an_index_or_off_the_local_fs_raise(
        spark, small_emb, tmp_path):
    """load_ann_index on a path with no index, or with an index built
    before builds were published through the lineage, raises ValueError
    naming it; a build to a non-local path raises before any job."""
    import os
    import re
    missing = str(tmp_path / "nothing")
    with pytest.raises(ValueError, match=re.escape(missing)):
        similarity.load_ann_index(spark, missing)
    legacy = str(tmp_path / "legacy")
    os.makedirs(f"{legacy}/_ann_meta")
    os.makedirs(f"{legacy}/bucket=0")
    with pytest.raises(ValueError, match="rebuild it"):
        similarity.probe_ann_index(spark, legacy, [1.0] * 8)
    for build in (similarity.build_ann_index, similarity.build_ivf_index):
        with pytest.raises(ValueError, match="s3a://b/idx"):
            build(small_emb, "s3a://b/idx")


def test_ann_index_over_mixed_vector_widths_raises(spark, small_emb,
                                                   tmp_path):
    """Batches of different vector widths bucketize with different plane
    families, so the build refuses to publish them and frees their
    files."""
    import os
    wide = small_emb.select((F.col("vec_id") + 1000).alias("vec_id"),
                            F.concat("embedding", F.array(F.lit(1.0)))
                            .cast("array<float>").alias("embedding"))
    path = str(tmp_path / "mixed")
    with pytest.raises(ValueError, match="mixes vector widths"):
        similarity.build_ann_index(small_emb.union(wide), path, n_planes=4)
    assert not os.path.exists(f"{path}/lineage")
    assert os.listdir(f"{path}/stripes") == []  # its files were freed
