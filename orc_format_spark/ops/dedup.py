"""Deduplication operators over a documents table.

Scale notes (100 TB design point):
  - exact dedup is a hash groupBy — one shuffle on the hash, map-side
    partial aggregation free via Catalyst;
  - MinHash-LSH: per-doc signatures are computed by an Arrow kernel
    (ONE numpy pass over the whole Arrow batch — the string column's UTF-8
    buffer is read in place, shingle hashes / per-doc minima fall out of
    sliding windows + segmented reduceat; zero per-doc Python loops), then
    band buckets explode and the candidate join shuffles ONLY on
    (band, bucket) — pairs never materialize globally;
  - skew guard: both LSH self-joins cap bucket size before joining.
    A degenerate bucket (empty/boilerplate docs all hashing together) would
    otherwise go quadratic — at 100 TB a single hot bucket is a job-killer.
    Dropped buckets are exact-duplicate-shaped, which exact_dedup already
    covers; ``lsh_dropped_buckets`` reports them for auditing;
  - verification (exact Jaccard / cosine) runs only on candidate pairs, a
    tiny fraction of the corpus; Jaccard runs JVM-side (array_intersect on
    precomputed shingle-hash sets — each doc is shingled ONCE, not once per
    pair);
  - SimHash is signature-only (64-bit), dedup via self-join on the
    signature (or banded Hamming buckets).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline import _binary_view, _vectors, run_kernel

# deterministic minhash parameters
_MERSENNE = (1 << 61) - 1
_POLY_BASE = 1_000_003

# LSH self-join skew cap: buckets holding more members than this are dropped
# from candidate generation (they are boilerplate-shaped; exact dedup covers
# them). Keeps the worst bucket's pair count <= cap^2 instead of O(n^2).
DEFAULT_BUCKET_CAP = 512


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — full-avalanche 64-bit mixing, vectorized."""
    z = h.astype(np.uint64, copy=True)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per distinct text (hash groupBy; one shuffle)."""
    return (df.groupBy(text_col)
            .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies")))


def _pows(k: int) -> np.ndarray:
    return np.array([pow(_POLY_BASE, k - 1 - i, _MERSENNE) for i in range(k)],
                    dtype=np.uint64)


def _batch_shingle_hashes(buf: np.ndarray, starts: np.ndarray, k: int):
    """Shingle-hash every doc in ONE numpy pass over the whole batch.

    ``buf``/``starts`` are the batch's UTF-8 bytes and n_docs+1 offsets
    (see pipeline._binary_view); the k-byte rolling polynomial hash is
    computed for every window of the buffer at once
    (k shifted multiply-adds, wrap-mod-2^64 then mod 2^61-1 — the same
    per-window arithmetic as a per-doc loop would produce); windows that
    straddle a doc boundary are masked out. Per-doc dedup is a single
    lexsort + run-length mask.

    Returns (doc_runs, hashes): ``hashes`` is the concatenation of every
    doc's sorted unique shingle hashes, ``doc_runs`` the n_docs+1 offsets of
    each doc's run. Docs shorter than k contribute the single hash 0.
    """
    n_docs = len(starts) - 1
    lens = np.diff(starts)
    buf = buf.astype(np.uint64)

    pows = _pows(k)
    n_win = len(buf) - k + 1
    if n_win > 0:
        h = np.zeros(n_win, dtype=np.uint64)
        for j in range(k):
            h += buf[j:j + n_win] * pows[j]
        h %= np.uint64(_MERSENNE)
        widx = np.arange(n_win, dtype=np.int64)
        doc_of = np.searchsorted(starts, widx, side="right") - 1
        valid = (widx + k) <= starts[doc_of + 1]
        doc_of, h = doc_of[valid], h[valid]
    else:
        doc_of = np.zeros(0, dtype=np.int64)
        h = np.zeros(0, dtype=np.uint64)

    short = np.flatnonzero(lens < k)
    if len(short):
        doc_of = np.concatenate([doc_of, short])
        h = np.concatenate([h, np.zeros(len(short), dtype=np.uint64)])

    order = np.lexsort((h, doc_of))
    doc_of, h = doc_of[order], h[order]
    keep = np.ones(len(h), dtype=bool)
    keep[1:] = (np.diff(doc_of) != 0) | (np.diff(h) != 0)
    doc_of, h = doc_of[keep], h[keep]
    doc_runs = np.searchsorted(doc_of, np.arange(n_docs + 1))
    return doc_runs, h


def _lists(offsets: np.ndarray, values: np.ndarray) -> pa.ListArray:
    """List column whose row i is ``values[offsets[i]:offsets[i + 1]]``."""
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                    pa.array(values))


def _minhash_params(n_hashes: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, n_hashes, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, n_hashes, dtype=np.uint64)
    return a, b


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 64,
                       shingle_k: int = 5, seed: int = 42,
                       with_shingles: bool = False) -> DataFrame:
    """doc -> array<long> of n_hashes minhash values. One vectorized numpy
    pass per Arrow batch: (a*x+b) mod p over ALL docs' shingles at once,
    per-doc minima via segmented ``minimum.reduceat``.

    ``with_shingles=True`` additionally emits each doc's sorted unique
    shingle-hash set from the SAME pass — a pipeline that both buckets
    (signatures) and verifies (exact shingle Jaccard) then shingles the
    corpus once instead of once per kernel (the values are identical to
    :func:`shingle_sets`' by construction: both derive from
    ``_batch_shingle_hashes``)."""
    a, b = _minhash_params(n_hashes, seed)

    def compute(batch: pa.RecordBatch) -> pa.Table:
        runs, hashes = _batch_shingle_hashes(
            *_binary_view(batch, text_col), shingle_k)
        sig = np.empty((batch.num_rows, n_hashes), dtype=np.int64)
        seg = runs[:-1]
        for i in range(n_hashes):
            hx = (hashes * a[i] + b[i]) % np.uint64(_MERSENNE)
            sig[:, i] = np.minimum.reduceat(hx, seg).astype(np.int64)
        out = {id_col: batch.column(id_col), "signature": _lists(
            np.arange(0, sig.size + 1, n_hashes), sig.ravel())}
        if with_shingles:
            out["shingles"] = _lists(runs, hashes.astype(np.int64))
        return pa.table(out)

    schema = f"{id_col} long, signature array<long>"
    if with_shingles:
        schema += ", shingles array<long>"
    return run_kernel(df, [id_col, text_col], compute, schema)


def shingle_sets(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", shingle_k: int = 5) -> DataFrame:
    """doc -> sorted unique shingle-hash set (array<long>), computed ONCE
    per doc so verification never re-shingles per pair."""
    def compute(batch: pa.RecordBatch) -> pa.Table:
        runs, hashes = _batch_shingle_hashes(
            *_binary_view(batch, text_col), shingle_k)
        return pa.table({id_col: batch.column(id_col),
                         "shingles": _lists(runs, hashes.astype(np.int64))})

    return run_kernel(df, [id_col, text_col], compute,
                      f"{id_col} long, shingles array<long>")


def _cap_buckets(banded: DataFrame, keys: list[str], bucket_cap: int) -> DataFrame:
    """Drop members of buckets larger than ``bucket_cap`` before a bucket
    self-join (skew guard). The anti-join shuffles on the same keys as the
    self-join that follows, so it adds no extra exchange of the big side.

    The capped rows are persisted: both sides of the self-join that follows
    consume them, and the broadcast build side cannot reuse the probe
    side's exchange — un-persisted, the hot-bucket aggregation and the
    anti-join run twice per query (two full subtrees in the plan). Rows are
    skinny (id + bucket keys); MEMORY_AND_DISK spills, never recomputes."""
    from pyspark import StorageLevel
    hot = (banded.groupBy(*keys).count()
           .filter(F.col("count") > bucket_cap).select(*keys))
    return (banded.join(hot, keys, "left_anti")
            .persist(StorageLevel.MEMORY_AND_DISK))


def lsh_dropped_buckets(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n_hashes: int = 64,
                        bands: int = 16, shingle_k: int = 5, seed: int = 42,
                        bucket_cap: int = DEFAULT_BUCKET_CAP) -> DataFrame:
    """Audit view: the (band, bucket, count) rows the skew cap excludes from
    minhash_lsh_pairs — 'silent cap' avoidance; empty when no bucket is hot."""
    banded = _banded(df, text_col, id_col, n_hashes, bands, shingle_k, seed)
    return (banded.groupBy("band", "bucket").count()
            .filter(F.col("count") > bucket_cap))


def _banded(df: DataFrame, text_col: str, id_col: str, n_hashes: int,
            bands: int, shingle_k: int, seed: int,
            sigs: DataFrame | None = None) -> DataFrame:
    rows = n_hashes // bands
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, n_hashes,
                                  shingle_k, seed)
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    return (sigs.select(id_col, "signature", band_idx)
            .select(id_col, "band",
                    F.xxhash64(F.slice("signature",
                                       F.col("band") * rows + 1, rows),
                               F.col("band")).alias("bucket")))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_hashes: int = 64,
                      bands: int = 16, shingle_k: int = 5,
                      seed: int = 42,
                      bucket_cap: int = DEFAULT_BUCKET_CAP,
                      min_shared_bands: int = 1,
                      sigs: DataFrame | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH (shuffle on band buckets
    only; hot buckets capped — see lsh_dropped_buckets). Returns
    (id_a, id_b, n_shared_bands), id_a < id_b.

    ``min_shared_bands``: for high thresholds, requiring >=2 shared bands
    slashes coincidental single-band candidates (the dominant verify cost at
    corpus scale) while a true near-dup pair shares most bands — e.g. at
    rows=4 a j=0.99 pair misses 2-of-8 bands with probability ~1e-9.

    ``sigs``: precomputed signature rows (id, signature) — pass the output
    of :func:`minhash_signatures` (e.g. its ``with_shingles=True`` variant
    shared with the verify stage) to skip the internal signature pass."""
    banded = _banded(df, text_col, id_col, n_hashes, bands, shingle_k, seed,
                     sigs=sigs)
    # the banded rows feed FOUR consumers (the hot-bucket count, its
    # anti-join, and both sides of the self-join); un-persisted, each one
    # re-runs the signature kernel over the whole corpus —
    # measured 4x the shingling work per query. MEMORY_AND_DISK spills
    # instead of recomputing at scale; rows are skinny (id, band, bucket).
    from pyspark import StorageLevel
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    banded = _cap_buckets(banded, ["band", "bucket"], bucket_cap)
    left = banded.alias("l")
    right = banded.alias("r")
    out = (left.join(right, ["band", "bucket"])
           .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
           .groupBy(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"))
           .agg(F.count("*").alias("n_shared_bands")))
    if min_shared_bands > 1:
        out = out.where(F.col("n_shared_bands") >= min_shared_bands)
    return out


def jaccard_verify(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", shingle_k: int = 5,
                   threshold: float = 0.7,
                   sets: DataFrame | None = None) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs only. Each doc is
    shingled ONCE (shingle_sets); the set intersection itself runs JVM-side
    (array_intersect under whole-stage codegen) — no Python in the verify.

    ``sets``: precomputed (id, shingles) rows — pass
    ``minhash_signatures(..., with_shingles=True)`` output (persisted by
    the caller) to share one shingling pass with the bucketing stage."""
    if sets is None:
        sets = shingle_sets(df, text_col, id_col, shingle_k)
        # both verify sides join against ``sets``; persist so the corpus is
        # shingled once per query, not once per side
        from pyspark import StorageLevel
        sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    else:
        sets = sets.select(id_col, "shingles")
    # both joins broadcast the SAME persisted ``sets`` subtree (see
    # embedding_cosine_dups): one broadcast build, reused for both sides
    joined = (pairs.select("id_a", "id_b")
              .join(sets, F.col("id_a") == sets[id_col])
              .select("id_a", "id_b", F.col("shingles").alias("sh_a"))
              .join(sets, F.col("id_b") == sets[id_col])
              .select("id_a", "id_b", "sh_a",
                      F.col("shingles").alias("sh_b")))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))
    return (joined.select("id_a", "id_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", shingle_k: int = 4,
                       seed: int = 42) -> DataFrame:
    """64-bit SimHash per doc (batch-vectorized: popcount-weighted bit
    voting via segmented add.reduceat over the whole batch's shingles)."""
    def compute(batch: pa.RecordBatch) -> pa.Table:
        runs, hashes = _batch_shingle_hashes(
            *_binary_view(batch, text_col), shingle_k)
        h64 = _mix64(hashes)
        seg = runs[:-1]
        counts = np.diff(runs)                        # shingles per doc
        sig = np.zeros(batch.num_rows, dtype=np.uint64)
        for bit in np.arange(64, dtype=np.uint64):    # per-bit: O(M) memory,
            ones = (h64 >> bit) & np.uint64(1)        # never M x 64
            votes = np.add.reduceat(ones.astype(np.int64), seg)
            sig |= (2 * votes > counts).astype(np.uint64) << bit
        out = (sig - np.uint64(1 << 63)).view(np.int64)  # store signed
        return pa.table({id_col: batch.column(id_col), "simhash": out})

    return run_kernel(df, [id_col, text_col], compute,
                      f"{id_col} long, simhash long")


def embedding_cosine_dups(emb: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          threshold: float = 0.95,
                          n_tables: int = 4, n_planes: int = 8,
                          bucket_cap: int = DEFAULT_BUCKET_CAP,
                          seed: int = 42) -> DataFrame:
    """Near-duplicate pairs by embedding cosine.

    Multi-table OR construction: ``n_tables`` independent hyperplane-LSH
    tables of ``n_planes`` bits each; a pair is a candidate when it shares
    a bucket in ANY table. A single AND-only table has vanishing recall at
    high cosine (a 0.95-cosine pair must agree on every plane); OR-ing
    tables takes recall from p^k to 1-(1-p^k)^T while each table's join
    still shuffles per-bucket, never all-pairs. Exact duplicates collide in
    every table, so their recall is 1.0 by construction. Hot buckets are
    capped (skew guard) — see DEFAULT_BUCKET_CAP.

    Shuffle weight: the explode x n_tables, the bucket self-join, and the
    pair dedup all carry ONLY (id, table, bucket) — ~20 bytes/row. The
    vectors rejoin by id once, AFTER the candidate set is deduped (at
    1k-dim float64 a vector is ~8 KB; carrying it through the x4-table
    explode and the pair shuffle was the r2 scale bug)."""
    shifts = np.arange(n_planes, dtype=np.uint64)

    def bucketize(batch: pa.RecordBatch) -> pa.Table:
        # planes built from the batch's vector width: they are a pure
        # function of (seed, n_tables, n_planes, dim), so every task
        # derives the identical family and no driver-side dim-probe job
        # (a full first() scan before any real work) is needed
        m = _vectors(batch, vec_col)
        planes = np.random.default_rng(seed).standard_normal(
            (n_tables, n_planes, m.shape[1]))
        norm = np.linalg.norm(m, axis=1, keepdims=True)
        norm[norm == 0] = 1.0
        m = m / norm
        buckets = [((m @ planes[t].T > 0).astype(np.uint64) << shifts)
                   .sum(axis=1) for t in range(n_tables)]
        return pa.table({
            id_col: np.tile(batch.column(id_col).to_numpy(), n_tables),
            "table": np.repeat(np.arange(n_tables), batch.num_rows),
            "bucket": np.concatenate(buckets).astype(np.int64)})

    b = run_kernel(emb, [id_col, vec_col], bucketize,
                   f"{id_col} long, table int, bucket long")
    # same four-consumer pattern as minhash_lsh_pairs: persist the skinny
    # (id, table, bucket) rows so the hyperplane matmul kernel runs once
    from pyspark import StorageLevel
    b = b.persist(StorageLevel.MEMORY_AND_DISK)
    b = _cap_buckets(b, ["table", "bucket"], bucket_cap)
    left, right = b.alias("l"), b.alias("r")
    pairs = (left.join(right, ["table", "bucket"])
             .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"))
             .dropDuplicates(["id_a", "id_b"]))  # OR across tables, once
    # unit vectors computed JVM-side (whole-stage codegen, no Python),
    # joined back by id only for the surviving candidate pairs
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vec_d, F.lit(0.0),
                              lambda acc, x: acc + x * x))
    safe = F.when(norm == 0, F.lit(1.0)).otherwise(norm)
    units = emb.select(F.col(id_col), F.transform(
        vec_d, lambda x: x / safe).alias("unit"))
    # both joins broadcast the SAME ``units`` subtree (no per-side aliasing
    # of the build side), so Spark's ReuseExchange shares one broadcast
    # build instead of materializing it once per side
    pairs = (pairs
             .join(units, F.col("id_a") == units[id_col])
             .select("id_a", "id_b", F.col("unit").alias("unit_a"))
             .join(units, F.col("id_b") == units[id_col])
             .select("id_a", "id_b", "unit_a",
                     F.col("unit").alias("unit_b")))
    cosine = F.aggregate(F.zip_with("unit_a", "unit_b", lambda x, y: x * y),
                         F.lit(0.0), lambda acc, x: acc + x)
    return (pairs.select("id_a", "id_b", cosine.alias("cosine"))
            .where(F.col("cosine") >= threshold))


# ---------------------------------------------------------------------------
# Exact word-n-gram Jaccard (prefix-filtered set-similarity join)
# ---------------------------------------------------------------------------

def word_ngram_sets(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """doc -> distinct word-k-gram set (array<string>), pure JVM built-ins
    (split / transform / slice / concat_ws under whole-stage codegen — no
    Python anywhere). Docs with fewer than ``k`` whitespace tokens yield an
    empty set and therefore never pair."""
    # two projections on purpose: materializing the token array first makes
    # split() evaluate ONCE per row — inlined into the transform lambda it
    # re-splits the whole text per gram position (measured 9.2 s -> <1 s on
    # 5000 docs; CollapseProject keeps the split separate because the alias
    # is referenced more than once)
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tokd = df.select(F.col(id_col), toks.alias("__toks"))
    tk = F.col("__toks")
    n = F.size(tk)
    grams = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.concat_ws(" ", F.slice(tk, i, k)))
    sh = F.when(n >= k, F.array_distinct(grams)) \
        .otherwise(F.array().cast("array<string>"))
    return tokd.select(F.col(id_col), sh.alias("ngrams"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """EXACT near-duplicate pairs by word-k-gram Jaccard >= threshold —
    the exact flavor of the minhash pipeline, as a prefix-filtered set-
    similarity join (Bayardo et al., WWW'07 "Scaling Up All Pairs
    Similarity Search"; Chaudhuri et al. prefix filtering), not an
    all-pairs compare:

      1. per-doc distinct k-gram sets (one JVM pass);
      2. global n-gram document frequencies (groupBy count — the "total
         order by rarity" the prefix principle needs);
      3. each doc indexes only its PREFIX: the (|s| - ceil(t*|s|) + 1)
         globally-rarest n-grams. Jaccard(a,b) >= t implies
         |a ∩ b| >= t*|a|, so any qualifying pair must collide inside
         both prefixes — recall is exactly 1.0, no approximation;
      4. candidate join on prefix n-grams (rarest-first means bucket
         sizes are small BY CONSTRUCTION — the anti-skew property falls
         out of the ordering rather than a cap), plus the |a| >= t*|b|
         length filter both ways;
      5. exact verify on full sets JVM-side (array_intersect).

    At 100 TB this is the published exact path: shuffles carry (gram, id,
    set-size) for prefix tokens only, pairs never materialize beyond
    prefix collisions, and the heavy boilerplate n-grams every doc shares
    sit at the END of the rarity order, outside every prefix."""
    from pyspark.sql import Window

    # the shingle sets feed FOUR branches (gram frequencies, the prefix
    # self-join, and both verify sides); un-persisted, Spark re-shingles
    # the corpus once per branch (16 s -> ~7 s at sf0.1). MEMORY_AND_DISK
    # spills instead of recomputing at 100 TB; Spark evicts LRU after the
    # job, so no explicit unpersist hook is needed on a lazy result
    from pyspark import StorageLevel
    sets = word_ngram_sets(df, text_col, id_col, k) \
        .where(F.size("ngrams") > 0) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sz = sets.select(id_col, F.size("ngrams").alias("setsz"), "ngrams")
    tok = sz.select(id_col, "setsz", F.explode("ngrams").alias("g"))
    dfreq = tok.groupBy("g").agg(F.count("*").alias("gdf"))
    # rarity rank within each doc; epsilon keeps ceil() from overshooting
    # on exact float products (t*|s| = integer) which would SHRINK the
    # prefix below the safe length
    rk = F.row_number().over(
        Window.partitionBy(id_col).orderBy("gdf", "g"))
    prefix_len = F.col("setsz") - F.ceil(
        F.lit(threshold) * F.col("setsz") - F.lit(1e-9)) + 1
    # both self-join sides consume the prefix pipeline, and the broadcast
    # build side cannot reuse the other side's shuffle exchange — without a
    # persist the dfreq aggregation AND the per-doc rarity window run twice
    # (visible as two full Window+Exchange subtrees in the physical plan).
    # Rows are skinny (id, setsz, gram).
    prefix = (tok.join(dfreq, "g")
              .withColumn("rk", rk)
              .where(F.col("rk") <= prefix_len)
              .select(id_col, "setsz", "g")
              .persist(StorageLevel.MEMORY_AND_DISK))
    l, r = prefix.alias("l"), prefix.alias("r")
    cand = (l.join(r, "g")
            .where((F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
                   & (F.col("l.setsz") >= threshold * F.col("r.setsz"))
                   & (F.col("r.setsz") >= threshold * F.col("l.setsz")))
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    # identical broadcast subtree on both verify sides => one build, reused
    verify = (cand
              .join(sets, F.col("id_a") == sets[id_col])
              .select("id_a", "id_b", F.col("ngrams").alias("sh_a"))
              .join(sets, F.col("id_b") == sets[id_col])
              .select("id_a", "id_b", "sh_a",
                      F.col("ngrams").alias("sh_b")))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return (verify.select("id_a", "id_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))
