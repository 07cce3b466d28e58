"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — JVM-side only (``zip_with`` +
``aggregate``), no Python in the hot path, so Catalyst/Tungsten codegen the
whole scan. Scale path: LSH-bucketed (random hyperplanes) probing that
touches only matching buckets — at 100 TB the bucket join replaces the full
scan, trading recall for a ~2^planes fan-in reduction.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline import _estimate_rows, _table_fs, _vectors, run_kernel


def _cosine_expr(vec_col: str, query: list[float]):
    """cosine(vec, query) as a pure Column expression (double math)."""
    q = [float(x) for x in query]
    qnorm = float(np.linalg.norm(q)) or 1.0
    qarr = F.array(*[F.lit(x) for x in q])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), qarr, lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    vnorm = F.sqrt(F.aggregate(
        F.transform(F.col(vec_col).cast("array<double>"), lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x))
    return dot / (vnorm * F.lit(qnorm))


def brute_force_topk(emb: DataFrame, query: list[float], k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: one scan, a partial top-k per partition, then a
    single-reducer merge of k*partitions candidates (orderBy+limit lets
    Spark's TakeOrderedAndProject do exactly that)."""
    return (emb.select(id_col, _cosine_expr(vec_col, query).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(k))


def _planes(n_planes: int, dim: int, seed: int) -> np.ndarray:
    """Deterministic hyperplane family — build and probe must agree, so the
    planes are a pure function of (seed, n_planes, dim)."""
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def _bucketize(emb: DataFrame, planes: np.ndarray | None, id_col: str,
               vec_col: str, n_planes: int | None = None,
               seed: int | None = None) -> DataFrame:
    """One vectorized pass attaching the hyperplane-sign bucket per vector.

    ``planes=None`` derives the family lazily inside the kernel from the
    first batch's vector width — the planes are a pure function of
    (seed, n_planes, dim), so every task derives the identical family and
    the caller needs no driver-side dim-probe job before the pass (the
    same construction dedup.embedding_cosine_dups uses)."""
    if planes is not None:
        n_planes = len(planes)

    def kernel(b: pa.RecordBatch) -> pa.Table:
        m = _vectors(b, vec_col)
        pl = _planes(n_planes, m.shape[1], seed) if planes is None else planes
        signs = (m @ pl.T) > 0
        bucket = (signs.astype(np.uint64)
                  << np.arange(n_planes, dtype=np.uint64)).sum(axis=1)
        return pa.table(b).append_column("bucket",
                                         pa.array(bucket.astype(np.int64)))

    schema = f"{id_col} long, {vec_col} array<float>, bucket long"
    return run_kernel(emb, [id_col, vec_col], kernel, schema)


def _probe_buckets(query: list[float], planes: np.ndarray,
                   n_probes: int) -> list[int]:
    """Query bucket + its ``n_probes`` nearest sign-flips (most uncertain
    planes first — the lowest-|margin| ones)."""
    n_planes = len(planes)
    q = np.asarray(query, dtype=np.float64)
    margins = planes @ q
    qbucket = int(((margins > 0).astype(np.uint64)
                   << np.arange(n_planes, dtype=np.uint64)).sum())
    flip_order = np.argsort(np.abs(margins))
    return [qbucket] + [qbucket ^ (1 << int(i)) for i in flip_order[:n_probes]]


def _write_partitioned(df: DataFrame, path: str,
                       part_col: str) -> int | None:
    """Hive-layout partitioned parquet write (``part_col=<v>/part-N.parquet``)
    with the files written by pyarrow INSIDE the shuffle tasks instead of
    Spark's dynamic-partition writer.

    Why: Spark's partitionBy write pays a per-partition-dir writer init plus
    a driver-side commit pass over every dir — measured 1.2-1.5 s for a
    64-bucket index of 2k rows where the identical data as a plain write
    costs 0.4 s. The task-side pyarrow write keeps the exact same on-disk
    layout (spark.read.parquet discovers it identically) and the same
    one-shuffle-by-bucket plan, minus the commit machinery. Idempotency:
    file names are keyed by the shuffle partition id, so a retried task
    overwrites its own file with identical content (the index build is
    deterministic given the shuffle partition's rows' bucket assignment);
    a failed build is simply re-run (an index is a derived artifact — the
    two-phase lineage commit discipline of the stripes tables would be
    overkill here). Falls back to the Spark writer for filesystems pyarrow
    cannot resolve."""
    spark = df.sparkSession
    try:
        filesystem, base = _table_fs(path)
    except ValueError:
        df.repartition(F.col(part_col)).write.mode("overwrite") \
            .partitionBy(part_col).parquet(path)
        return None  # row count unknown without an extra job
    # overwrite semantics: clear the target first (driver-side, one RPC)
    try:
        filesystem.delete_dir(base)
    except FileNotFoundError:
        pass
    filesystem.create_dir(base, recursive=True)

    def write_kernel(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext
        batches = list(batches)
        n = 0
        if batches:
            tbl = pa.Table.from_batches(batches)
            n = tbl.num_rows
            if n:
                pid = TaskContext.get().partitionId()
                pcol = tbl.column(part_col)
                import numpy as np
                vals = pcol.to_numpy()
                order = np.argsort(vals, kind="stable")
                tbl = tbl.take(order).drop([part_col])
                svals = vals[order]
                bounds = np.concatenate(
                    ([0], np.flatnonzero(np.diff(svals) != 0) + 1, [n]))
                for i in range(len(bounds) - 1):
                    lo, hi = int(bounds[i]), int(bounds[i + 1])
                    d = f"{base}/{part_col}={int(svals[lo])}"
                    filesystem.create_dir(d, recursive=True)
                    pq.write_table(tbl.slice(lo, hi - lo),
                                   f"{d}/part-{pid:05d}.parquet",
                                   filesystem=filesystem)
        yield pa.RecordBatch.from_arrays(
            [pa.array([n], type=pa.int64())],
            schema=pa.schema([("n", pa.int64())]))

    total = (df.repartition(F.col(part_col)).mapInArrow(write_kernel, "n long")
             .agg(F.sum("n")).collect()[0][0]) or 0
    if total == 0:
        # empty input wrote no files; leave a readable empty table (the
        # Spark writer's old behavior) so load_ann_index can infer a schema
        df.limit(0).write.mode("overwrite").parquet(path)
    return total


def _index_vec_dim(path: str, vec_col: str) -> int | None:
    """Vector width of a just-written index, read driver-side from ONE
    column of its first file (pyarrow dataset head — no Spark job). Used
    by the index builders so the plane/centroid metadata records the true
    dim without a separate ``first()`` probe job over the corpus.
    Returns None when the index holds no non-null vector."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    try:
        filesystem, base = _table_fs(path)
    except ValueError:
        return None
    try:
        dset = pads.dataset(base, filesystem=filesystem, format="parquet",
                            partitioning="hive",
                            ignore_prefixes=["_", "."])
        head = dset.head(1, columns=[vec_col])
    except (OSError, FileNotFoundError, pa.ArrowInvalid):
        return None
    if head.num_rows:
        v = head.column(0)[0].as_py()
        if v is not None:
            return len(v)
    return None


def build_ann_index(emb: DataFrame, path: str, n_planes: int = 8,
                    seed: int = 42, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Bucketize the corpus ONCE and persist it partitioned by bucket, so
    every probe prunes to ~(n_probes/2^n_planes) of the data via parquet
    partition pruning (PartitionFilters in the scan) instead of
    re-bucketizing the whole corpus per query. The LSH parameters ride in a
    ``_ann_meta`` side table (underscore-prefixed => invisible to parquet
    discovery), so ``load_ann_index``/``probe_ann_index`` reconstruct the
    exact plane family. Returns the reloaded index DataFrame."""
    spark = emb.sparkSession
    # planes are derived lazily inside the kernel (pure function of
    # (seed, n_planes, dim)); the meta dim is recovered from the written
    # files driver-side — no separate dim-probe job over the corpus
    bucketed = _bucketize(emb, None, id_col, vec_col,
                          n_planes=n_planes, seed=seed)
    # shuffle by bucket before the partitioned write: one writer task per
    # bucket => one well-sized file per partition dir instead of
    # (tasks x buckets) shards — the layout a 100-TB probe wants
    total = _write_partitioned(bucketed, path, "bucket")
    dim = _index_vec_dim(path, vec_col) if total != 0 else None
    if dim is None:  # empty corpus / opaque filesystem: probe with a job
        row = emb.select(F.size(vec_col).alias("d")).first()
        if row is None:
            raise ValueError(
                f"cannot build an ANN index over an empty corpus ({path}): "
                "the plane family needs the vector dimension")
        dim = int(row["d"])
    _write_meta(spark, path, {"n_planes": int(n_planes), "seed": int(seed),
                              "dim": int(dim), "id_col": id_col,
                              "vec_col": vec_col})
    return load_ann_index(spark, path)[0]


def _write_meta(spark, path: str, meta: dict) -> None:
    """One-row meta side table. pyarrow writes it driver-side (a 1-row
    Spark job costs ~2 s of commit-protocol overhead); the Spark writer is
    the fallback for filesystems pyarrow can't reach."""
    import pyarrow as pa
    try:
        import pyarrow.parquet as pq
        filesystem, base = _table_fs(path)
        filesystem.create_dir(base + "/_ann_meta", recursive=True)
        pq.write_table(pa.table({k: [v] for k, v in meta.items()}),
                       base + "/_ann_meta/meta.parquet",
                       filesystem=filesystem)
    except (OSError, pa.ArrowInvalid, ValueError):
        # incl. unresolvable URI schemes (s3a://): Spark's own
        # writer handles them and lands next to the index
        spark.createDataFrame([tuple(meta.values())], list(meta)) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(path + "/_ann_meta")


def load_ann_index(spark, path: str) -> tuple[DataFrame, dict]:
    """(index DataFrame, meta dict) for an index written by build_ann_index."""
    try:
        import pyarrow.parquet as pq
        filesystem, base = _table_fs(path)
        meta = {k: v[0] for k, v in
                pq.read_table(base + "/_ann_meta", filesystem=filesystem)
                .to_pydict().items()}
    except (OSError, FileNotFoundError, ValueError):
        meta = spark.read.parquet(path + "/_ann_meta").first().asDict()
    return spark.read.parquet(path), meta


def probe_ann_index(spark, path: str, query: list[float], k: int = 10,
                    n_probes: int = 3) -> DataFrame:
    """Top-k probe against a persisted index: reads ONLY the probed bucket
    partitions (partition pruning), exact-ranks the survivors."""
    index, meta = load_ann_index(spark, path)
    if "n_planes" not in meta:
        raise ValueError(
            f"{path} is not an LSH index (meta kind {meta.get('kind')!r}) "
            "— probe IVF indexes with probe_ivf_index")
    if len(query) != int(meta["dim"]):
        raise ValueError(
            f"query dim {len(query)} != index dim {int(meta['dim'])} "
            f"({path}): the plane family is dimension-specific, a mismatch "
            "would bucketize into garbage instead of failing")
    return lsh_topk(index, query, k=k, id_col=meta["id_col"],
                    vec_col=meta["vec_col"], n_planes=int(meta["n_planes"]),
                    n_probes=n_probes, seed=int(meta["seed"]))


def _cosine_pair_expr(a_col: str, b_col: str):
    """cosine(a, b) between two array columns as a pure JVM expression
    (zip_with + aggregate — whole-stage codegen, no Python)."""
    a = F.col(a_col).cast("array<double>")
    b = F.col(b_col).cast("array<double>")
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


# broadcasting the exploded query side is only sane while it is small: each
# exploded row carries a full embedding vector, so millions of queries would
# collect gigabytes driver-side regardless of how few buckets they probe
BROADCAST_QUERY_ROWS = 100_000


def _join_candidates(index: DataFrame, exploded: DataFrame, key: str,
                     prune_partitions: bool | None):
    """Candidate join for the batch probes, with TWO independent decisions:
    (1) partition pruning — push the probed keys into the index scan as a
    literal IN when their DISTINCT count is small (capped skinny job;
    prune_partitions=True lifts the cap, False skips pruning entirely);
    (2) broadcast — broadcast the exploded query side only when it is
    actually small (capped count job), never merely because the index has
    few partitions: with default-sized indexes (<=2^8 buckets / 16 cells)
    every query set probes few DISTINCT keys, and keying the broadcast on
    that would ship a multi-million-row query set to every executor.

    ``exploded`` is persisted before the sizing jobs: the broadcast-size
    count, the distinct-key job and the candidate join would otherwise
    each re-run the query-side bucketize matmul kernel — at millions of
    queries that triples the kernel work (round-5 review finding).
    MEMORY_AND_DISK spills rather than recomputing; Spark evicts LRU, so
    the lazily-returned join needs no unpersist hook."""
    from pyspark import StorageLevel
    exploded = exploded.persist(StorageLevel.MEMORY_AND_DISK)
    small_queries = None
    if prune_partitions is not False:
        # ONE sizing job instead of two: the per-key counts give both the
        # distinct probed keys (pruning) and, when the cap holds, the total
        # exploded row count (broadcast decision) — the old shape ran a
        # limit-count job AND a distinct job over the same persisted rows.
        per_key = exploded.groupBy(key).agg(F.count("*").alias("__n"))
        cap = None if prune_partitions else 1000
        rows = per_key.collect() if cap is None \
            else per_key.limit(cap + 1).collect()
        if cap is None or len(rows) <= cap:
            index = index.where(F.col(key).isin([r[key] for r in rows]))
            small_queries = (sum(r["__n"] for r in rows)
                             <= BROADCAST_QUERY_ROWS)
    if small_queries is None:
        # pruning skipped or >cap distinct keys: size the broadcast side
        # directly (a capped count over the persisted skinny rows)
        small_queries = (exploded.limit(BROADCAST_QUERY_ROWS + 1).count()
                         <= BROADCAST_QUERY_ROWS)
    return index.join(
        F.broadcast(exploded) if small_queries else exploded, key)


def probe_ann_index_many(spark, path: str, queries: DataFrame, k: int = 10,
                         n_probes: int = 3, query_id_col: str = "query_id",
                         query_vec_col: str = "query_vec",
                         prune_partitions: bool | None = None) -> DataFrame:
    """Batch top-k probe — the production shape: a 100-TB pipeline probes
    MILLIONS of queries, not one driver-side vector.

    Plan: (1) the plane family is rebuilt from the persisted ``_ann_meta``
    and closed over by a vectorized kernel that explodes each query row to
    its probed buckets (home bucket + ``n_probes`` lowest-|margin| sign
    flips — the same probe set the single-query path uses), one numpy
    matmul per Arrow batch, no per-row Python; (2) ONE join on ``bucket``
    against the bucket-partitioned index — never all-pairs, and since each
    index vector lives in exactly one bucket no post-join dedup is needed;
    (3) exact cosine ranks survivors per query via a window top-k.

    When the query set probes few DISTINCT buckets (<=1000, decided by one
    small distinct-limit job on the skinny bucket column — not by query
    count, which is a proxy), the buckets are pushed into the index scan
    as a literal IN — parquet partition pruning reads only those bucket
    directories — and the exploded query side is broadcast. At millions of
    queries every bucket is hit anyway, so the plain shuffle join is the
    right plan and is used. ``prune_partitions`` forces either path.
    """
    index, meta = load_ann_index(spark, path)
    n_planes, dim = int(meta["n_planes"]), int(meta["dim"])
    planes = _planes(n_planes, dim, int(meta["seed"]))
    id_col, vec_col = meta["id_col"], meta["vec_col"]

    def kernel(b: pa.RecordBatch) -> pa.Table:
        m = _query_matrix(b, query_vec_col, dim)
        margins = m @ planes.T                           # (rows, n_planes)
        home = ((margins > 0).astype(np.uint64)
                << np.arange(n_planes, dtype=np.uint64)) \
            .sum(axis=1).astype(np.int64)
        flips = np.argsort(np.abs(margins), axis=1)[:, :n_probes]
        probes = np.concatenate(
            [home[:, None], home[:, None] ^ (1 << flips.astype(np.int64))],
            axis=1)                                      # (rows, 1+n_probes)
        return _explode(b, "bucket", probes)

    exploded = run_kernel(
        queries, [query_id_col, query_vec_col], kernel,
        f"{query_id_col} long, {query_vec_col} array<float>, bucket long")

    cand = _join_candidates(index, exploded, "bucket", prune_partitions)

    from pyspark.sql.window import Window
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col))
    return (cand.select(
                query_id_col, id_col,
                _cosine_pair_expr(query_vec_col, vec_col).alias("cosine"))
            .withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))


def _query_matrix(b: pa.RecordBatch, vec_col: str, dim: int) -> np.ndarray:
    m = _vectors(b, vec_col).astype(np.float64)
    if m.shape[1] != dim:
        raise ValueError(f"query dim {m.shape[1]} != index dim {dim}")
    return m


def _explode(b: pa.RecordBatch, key: str, probes: np.ndarray) -> pa.Table:
    """Row i of ``b`` repeated once per probe in ``probes[i]``, with the
    probe as column ``key``."""
    rows = np.repeat(np.arange(b.num_rows), probes.shape[1])
    return pa.table(b).take(rows).append_column(
        key, pa.array(probes.astype(np.int64).ravel()))


def lsh_topk(emb: DataFrame, query: list[float], k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_planes: int = 8, n_probes: int = 3, seed: int = 42) -> DataFrame:
    """Approximate top-k. ``emb`` is either a persisted/bucketed index (has
    a ``bucket`` column — from :func:`build_ann_index`; the scale path:
    probes prune partitions, nothing is re-bucketized) or a raw embedding
    table (ad-hoc path: bucketized transiently for this one query). Probes
    the query's bucket plus its ``n_probes`` nearest sign-flips, exact-ranks
    the survivors; cost stays ~(probes/2^planes) of the corpus."""
    planes = _planes(n_planes, len(query), seed)
    probe = _probe_buckets(query, planes, n_probes)
    if "bucket" in emb.columns:
        cand = emb.where(F.col("bucket").isin(probe))
    else:
        cand = _bucketize(emb, planes, id_col, vec_col).where(
            F.col("bucket").isin(probe))
    return (cand.select(id_col, _cosine_expr(vec_col, query).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(k))


# ------------------------- IVF (k-means coarse lists) -----------------------
# The second classic ANN scale path next to LSH: partition the corpus into
# n_lists Voronoi cells of spherical-k-means centroids (trained driver-side
# on a bounded sample, the standard IVF recipe), persist the corpus
# partitioned by cell, probe only the n_probes nearest cells per query.
# Vs LSH: data-adaptive cells follow the embedding distribution (clustered
# real-world embeddings get balanced lists where fixed hyperplanes leave
# buckets empty), at the cost of a one-off training pass.


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """L2-normalize rows; zero vectors stay zero (cosine 0 to everything)."""
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n == 0, 1.0, n)


def _spherical_kmeans(sample: np.ndarray, n_lists: int, seed: int,
                      iters: int = 10) -> np.ndarray:
    """k-means on the unit sphere (cosine metric): k-means++ seeding by
    cosine distance, Lloyd updates with renormalized means, empty lists
    reseeded at the worst-covered point. Pure numpy, deterministic in
    (sample, n_lists, seed)."""
    rng = np.random.default_rng(seed)
    n = len(sample)
    cent = np.empty((n_lists, sample.shape[1]))
    cent[0] = sample[rng.integers(n)]
    d = np.maximum(1.0 - sample @ cent[0], 0.0)
    for j in range(1, n_lists):
        tot = d.sum()
        idx = rng.choice(n, p=d / tot) if tot > 0 else rng.integers(n)
        cent[j] = sample[idx]
        np.minimum(d, np.maximum(1.0 - sample @ cent[j], 0.0), out=d)
    for _ in range(iters):
        sims = sample @ cent.T
        assign = sims.argmax(axis=1)
        for j in range(n_lists):
            members = sample[assign == j]
            if len(members):
                v = members.mean(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    cent[j] = v / nv
            else:
                cent[j] = sample[sims.max(axis=1).argmin()]
    return cent


def _assign_lists(emb: DataFrame, cent: np.ndarray, id_col: str,
                  vec_col: str) -> DataFrame:
    """Nearest-centroid cell per vector — one matmul per Arrow batch."""
    def kernel(b: pa.RecordBatch) -> pa.Table:
        v = _vectors(b, vec_col).astype(np.float64)
        lists = (_unit_rows(v) @ cent.T).argmax(axis=1).astype(np.int64)
        return pa.table(b).append_column("list_id", pa.array(lists))

    schema = f"{id_col} long, {vec_col} array<float>, list_id long"
    return run_kernel(emb, [id_col, vec_col], kernel, schema)


def build_ivf_index(emb: DataFrame, path: str, n_lists: int = 16,
                    seed: int = 42, id_col: str = "vec_id",
                    vec_col: str = "embedding", train_rows: int = 32768,
                    iters: int = 10) -> DataFrame:
    """Train centroids on a seeded bounded sample (train_rows x dim doubles
    driver-side — 32 MB at 32k x 128, independent of corpus size), assign
    every vector distributedly, persist partitioned by ``list_id`` with the
    centroids riding in ``_ann_meta``. One writer task per list => one
    well-sized file per cell directory. Returns the reloaded index."""
    spark = emb.sparkSession
    # corpus size for the sample fraction from parquet FOOTERS when the
    # input is file-backed (driver-side metadata, exact for <=64 files —
    # no count() job); the estimate only sizes the sampling fraction, and
    # any non-file source (createDataFrame fixtures, unions with planted
    # rows where the estimate would undercount) keeps the exact count path
    n = _estimate_rows(emb)
    if n is None:
        n = emb.count()
    frac = min(1.0, 1.2 * train_rows / max(n, 1))
    samp = (emb.select(vec_col) if frac >= 1.0
            else emb.select(vec_col).sample(False, frac, seed)) \
        .limit(train_rows).toPandas()
    m = _unit_rows(np.vstack(samp[vec_col].to_numpy()).astype(np.float64))
    # dim from the training sample itself (the sample does not depend on
    # dim, so this is byte-identical to the old separate first() probe job
    # — one fewer sequential job before training)
    dim = int(m.shape[1])
    cent = _spherical_kmeans(m, n_lists, seed, iters)
    assigned = _assign_lists(emb, cent, id_col, vec_col)
    _write_partitioned(assigned, path, "list_id")
    _write_meta(spark, path, {
        "kind": "ivf", "n_lists": int(n_lists), "dim": int(dim),
        "seed": int(seed), "id_col": id_col, "vec_col": vec_col,
        "centroids": cent.ravel().tolist()})
    return load_ann_index(spark, path)[0]


def _ivf_meta(spark, path: str) -> tuple[DataFrame, dict, np.ndarray]:
    index, meta = load_ann_index(spark, path)
    if meta.get("kind") != "ivf":
        raise ValueError(f"{path} is not an IVF index (meta kind "
                         f"{meta.get('kind')!r})")
    n_lists, dim = int(meta["n_lists"]), int(meta["dim"])
    cent = np.asarray(meta["centroids"], dtype=np.float64) \
        .reshape(n_lists, dim)
    return index, meta, cent


def probe_ivf_index(spark, path: str, query: list[float], k: int = 10,
                    n_probes: int = 2) -> DataFrame:
    """Top-k probe: rank cells by centroid similarity driver-side (n_lists
    dots), push the n_probes nearest cell ids into the scan as a literal IN
    (parquet partition pruning), exact-rank the survivors."""
    index, meta, cent = _ivf_meta(spark, path)
    if len(query) != int(meta["dim"]):
        raise ValueError(
            f"query dim {len(query)} != index dim {int(meta['dim'])} "
            f"({path}): centroids are dimension-specific, a mismatch would "
            "assign garbage cells instead of failing")
    q = _unit_rows(np.asarray([query], dtype=np.float64))[0]
    lists = np.argsort(-(cent @ q), kind="stable")[:n_probes]
    cand = index.where(F.col("list_id").isin([int(x) for x in lists]))
    return (cand.select(meta["id_col"],
                        _cosine_expr(meta["vec_col"], query).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(meta["id_col"]))
            .limit(k))


def probe_ivf_index_many(spark, path: str, queries: DataFrame, k: int = 10,
                         n_probes: int = 2, query_id_col: str = "query_id",
                         query_vec_col: str = "query_vec",
                         prune_partitions: bool | None = None) -> DataFrame:
    """Batch IVF probe, same plan shape as :func:`probe_ann_index_many`:
    explode each query to its n_probes nearest cells (one matmul per Arrow
    batch against the broadcast centroid matrix), ONE join on ``list_id``
    against the cell-partitioned index, window top-k per query. Few
    distinct probed cells (<=1000, decided by a capped distinct job on the
    skinny list_id column) => literal-IN partition pruning + broadcast
    query side; a query set hitting every cell => plain shuffle join."""
    index, meta, cent = _ivf_meta(spark, path)
    dim = int(meta["dim"])
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    n_probes = min(n_probes, int(meta["n_lists"]))

    def kernel(b: pa.RecordBatch) -> pa.Table:
        sims = _unit_rows(_query_matrix(b, query_vec_col, dim)) @ cent.T
        probes = np.argsort(-sims, axis=1, kind="stable")[:, :n_probes]
        return _explode(b, "list_id", probes)

    exploded = run_kernel(
        queries, [query_id_col, query_vec_col], kernel,
        f"{query_id_col} long, {query_vec_col} array<float>, list_id long")

    cand = _join_candidates(index, exploded, "list_id", prune_partitions)

    from pyspark.sql.window import Window
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col))
    return (cand.select(
                query_id_col, id_col,
                _cosine_pair_expr(query_vec_col, vec_col).alias("cosine"))
            .withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))
