"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — JVM-side only (``zip_with`` +
``aggregate``), no Python in the hot path, so Catalyst/Tungsten codegen the
whole scan. Scale path: LSH-bucketed (random hyperplanes) probing that
touches only matching buckets — at 100 TB the bucket join replaces the full
scan, trading recall for a ~2^planes fan-in reduction.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline import (_active, _estimate_rows, _lineage_rows, _local_root,
                        _log, _publish, _table_fs, _vectors, run_kernel)


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


# --------------- persisted indexes: one lineage version per build ---------
# An index at ``path`` is a table of the lineage log (pipeline._log), as a
# stripes table is: the tasks of a build's one shuffle by key write one
# parquet file per LSH bucket / IVF list under ``stripes/run=<id>/``, and
# the driver publishes ONE version holding an 'ok' row per file (stripe id
# ``<run>-<key>``, the key as ``bucket``, ``n_rows``, ``path``), the build's
# meta (``index_meta`` JSON, on the first of them) and the tombstones of
# the build it replaces. A reader plans from one read of the log and sees
# one whole build; a probe reads only the files of the keys it probes.

_KEYS = {"ann": "bucket", "ivf": "list_id"}  # kind -> key column
_EMPTY = "cannot build an {} index over an empty corpus ({})"


def _build(frame: DataFrame, path: str, meta: dict) -> DataFrame:
    """Write ``frame`` (the id, vector and key columns of ``meta``'s kind)
    as one parquet file per key and publish them with ``meta`` (plus the
    files' vector width, ``dim``) as the next version of ``path``'s log,
    tombstoning the active build. A build that loses the version re-reads
    the log and tombstones the winner instead: the last publish wins.
    Only then frees what the version superseded: the replaced runs'
    directories and the older log versions. Returns the new index.
    Raises ValueError for a non-local path before any job, and for an
    empty corpus or mixed vector widths before publishing. A build that
    fails before its version is published frees the files it wrote."""
    root = _local_root(path)
    key, vec_col = _KEYS[meta["kind"]], meta["vec_col"]
    run_id = "i" + uuid.uuid4().hex[:11]
    rel = f"stripes/run={run_id}"

    def write(batches):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches).sort_by(key)  # stable
        keys = tbl.column(key).to_numpy()
        cuts = [0, *(np.flatnonzero(np.diff(keys)) + 1), len(keys)]
        os.makedirs(f"{root}/{rel}", exist_ok=True)
        facts = []
        for lo, hi in zip(cuts, cuts[1:]):
            part, k = tbl.slice(lo, hi - lo), int(keys[lo])
            name = f"{rel}/{key}-{k}-{uuid.uuid4().hex}.parquet"
            pq.write_table(part, f"{root}/{name}")
            widths = np.unique(
                pc.list_value_length(part.column(vec_col)).to_numpy())
            facts.append({"stripe_id": f"{run_id}-{k}", "bucket": k,
                          "n_rows": hi - lo, "path": name,
                          "dim": int(widths[0]) if len(widths) == 1 else -1})
        yield pa.RecordBatch.from_pylist(facts)

    facts = (frame.repartition(F.col(key))
             .mapInArrow(write, "stripe_id string, bucket long, n_rows long, "
                                "path string, dim long")
             .toArrow().to_pylist())
    try:
        if not facts:
            raise ValueError(_EMPTY.format(meta["kind"].upper(), path))
        dims = {f.pop("dim") for f in facts}
        if len(dims) > 1 or -1 in dims:
            raise ValueError(f"the corpus of index {path} mixes vector "
                             "widths")
        meta = dict(meta, dim=dims.pop())
        ok = _lineage_rows(sorted(facts, key=lambda f: f["bucket"]), "ok",
                           run_id, None)
        ok[0]["index_meta"] = json.dumps(meta)

        def replace(rows, _pending=None):
            return ok + _lineage_rows(list(_active(rows, path).values()),
                                      "compacted", run_id, None)

        log = _log(path)
        rows = _publish(path, replace(log[0]), log, replace)
    except BaseException:
        # free this build's files unless a version names them (one that
        # published before the failure must stay whole)
        if not any(r["run_id"] == run_id for r in _log(path)[0]):
            shutil.rmtree(f"{root}/{rel}", ignore_errors=True)
        raise
    live = {r["run_id"] for r in _active(rows, path).values()}
    # a concurrent build's clean-up may free the same paths first
    for rid in {r["run_id"] for r in rows if r["status"] == "ok"} - live:
        with contextlib.suppress(FileNotFoundError):
            shutil.rmtree(f"{root}/stripes/run={rid}")
    # every version but the newest is superseded: each holds a whole build
    versions = sorted(v for v in os.listdir(f"{root}/lineage")
                      if v.removesuffix(".parquet").isdigit())
    for v in versions[:-1]:
        with contextlib.suppress(FileNotFoundError):
            os.remove(f"{root}/lineage/{v}")
    return _scan(frame.sparkSession, meta,
                 [f"{root}/{r['path']}" for r in ok])


def _index(path: str, kind: str | None = None,
           query: list[float] | None = None) -> tuple[dict, dict[int, str]]:
    """(meta, key -> file) of the build the lineage of ``path`` publishes,
    from one driver read of the log (no Spark job). Raises ValueError
    naming ``path`` when it publishes no index build, when the build is
    not of ``kind``, and when ``query`` is not of the index's width."""
    active = _active(_log(path)[0], path).values()
    meta = next((r["index_meta"] for r in active if r["index_meta"]), None)
    if meta is None:
        raise ValueError(
            f"no index at {path}: its lineage publishes no index build "
            "(indexes built before builds were published through the "
            "lineage have none) — rebuild it")
    meta = json.loads(meta)
    if kind not in (None, meta["kind"]):
        raise ValueError(f"{path} is not an {kind.upper()} index (meta "
                         f"kind {meta['kind']!r})")
    if query is not None and len(query) != meta["dim"]:
        raise ValueError(
            f"query dim {len(query)} != index dim {meta['dim']} ({path}): "
            "the planes / centroids are dimension-specific, a mismatch "
            "would probe garbage instead of failing")
    root = _table_fs(path)[1]
    return meta, {r["bucket"]: f"{root}/{r['path']}" for r in active}


def _scan(spark, meta: dict, files) -> DataFrame:
    """The index rows in ``files``, no other file listed or read; an empty
    frame of the index's schema when there are none."""
    schema = (f"{meta['id_col']} long, {meta['vec_col']} array<float>, "
              f"{_KEYS[meta['kind']]} long")
    files = list(files)
    return (spark.read.schema(schema).parquet(*files) if files
            else spark.createDataFrame([], schema))


def build_ann_index(emb: DataFrame, path: str, n_planes: int = 8,
                    seed: int = 42, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Bucketize the corpus ONCE and persist it one parquet file per
    bucket, published with the LSH parameters as one lineage version (see
    _build), so every probe reads only the probed buckets' files
    (~(n_probes+1)/2^n_planes of the data) instead of re-bucketizing the
    whole corpus per query. Replaces the index already at ``path``. The
    planes are derived inside the kernel from the vectors' width (a pure
    function of (seed, n_planes, dim)), so no job probes the width first.
    Returns the index DataFrame."""
    return _build(_bucketize(emb, None, id_col, vec_col, n_planes=n_planes,
                             seed=seed), path,
                  {"kind": "ann", "n_planes": int(n_planes),
                   "seed": int(seed), "id_col": id_col, "vec_col": vec_col})


def load_ann_index(spark, path: str) -> tuple[DataFrame, dict]:
    """(index DataFrame, meta dict) of the ANN or IVF index at ``path``,
    planned from its lineage log (see _index)."""
    meta, files = _index(path)
    return _scan(spark, meta, files.values()), meta


def probe_ann_index(spark, path: str, query: list[float], k: int = 10,
                    n_probes: int = 3) -> DataFrame:
    """Top-k probe against a persisted index: reads ONLY the probed
    buckets' files, exact-ranks the survivors."""
    meta, files = _index(path, "ann", query)
    planes = _planes(meta["n_planes"], meta["dim"], meta["seed"])
    probe = _probe_buckets(query, planes, n_probes)
    return brute_force_topk(
        _scan(spark, meta, [files[b] for b in probe if b in files]),
        query, k, meta["id_col"], meta["vec_col"])


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


def _probe_many(spark, meta: dict, files: dict[int, str],
                exploded: DataFrame, k: int, query_id_col: str,
                query_vec_col: str, prune_partitions: bool | None):
    """Batch top-k: ``exploded`` (one row per query and probed key) joined
    on the key to the index rows, exact cosine ranked per query by a
    window top-k. Two independent decisions:
    (1) pruning — scan only the probed keys' files when their DISTINCT
    count is small (capped skinny job; prune_partitions=True lifts the
    cap, False skips pruning entirely);
    (2) broadcast — broadcast the exploded query side only when it is
    actually small (capped count job), never merely because the index has
    few keys: with default-sized indexes (<=2^8 buckets / 16 cells) every
    query set probes few DISTINCT keys, and keying the broadcast on that
    would ship a multi-million-row query set to every executor.

    ``exploded`` is persisted before the sizing jobs: the broadcast-size
    count, the distinct-key job and the candidate join would otherwise
    each re-run the query-side kernel — at millions of queries that
    triples the kernel work. MEMORY_AND_DISK spills rather than
    recomputing; Spark evicts LRU, so the lazily-returned join needs no
    unpersist hook."""
    from pyspark import StorageLevel
    key, id_col, vec_col = _KEYS[meta["kind"]], meta["id_col"], meta["vec_col"]
    exploded = exploded.persist(StorageLevel.MEMORY_AND_DISK)
    small_queries, scan = None, files.values()
    if prune_partitions is not False:
        # ONE sizing job: the per-key counts give both the distinct probed
        # keys (pruning) and, when the cap holds, the total exploded row
        # count (broadcast decision)
        per_key = exploded.groupBy(key).agg(F.count("*").alias("__n"))
        cap = None if prune_partitions else 1000
        rows = per_key.collect() if cap is None \
            else per_key.limit(cap + 1).collect()
        if cap is None or len(rows) <= cap:
            scan = [files[r[key]] for r in rows if r[key] in files]
            small_queries = (sum(r["__n"] for r in rows)
                             <= BROADCAST_QUERY_ROWS)
    if small_queries is None:
        # pruning skipped or >cap distinct keys: size the broadcast side
        # directly (a capped count over the persisted skinny rows)
        small_queries = (exploded.limit(BROADCAST_QUERY_ROWS + 1).count()
                         <= BROADCAST_QUERY_ROWS)
    cand = _scan(spark, meta, scan).join(
        F.broadcast(exploded) if small_queries else exploded, key)
    rank = F.expr(f"row_number() OVER (PARTITION BY `{query_id_col}` "
                  f"ORDER BY cosine DESC, `{id_col}`)")
    return (cand.select(
                query_id_col, id_col,
                _cosine_pair_expr(query_vec_col, vec_col).alias("cosine"))
            .withColumn("__rk", rank)
            .where(F.col("__rk") <= k).drop("__rk"))


def probe_ann_index_many(spark, path: str, queries: DataFrame, k: int = 10,
                         n_probes: int = 3, query_id_col: str = "query_id",
                         query_vec_col: str = "query_vec",
                         prune_partitions: bool | None = None) -> DataFrame:
    """Batch top-k probe — the production shape: a 100-TB pipeline probes
    MILLIONS of queries, not one driver-side vector.

    Plan: (1) the plane family is rebuilt from the index meta the lineage
    publishes and closed over by a vectorized kernel that explodes each
    query row to its probed buckets (home bucket + ``n_probes``
    lowest-|margin| sign flips — the same probe set the single-query path
    uses), one numpy matmul per Arrow batch, no per-row Python; (2) ONE
    join on ``bucket`` against the index — never all-pairs, and since each
    index vector lives in exactly one bucket no post-join dedup is needed;
    (3) exact cosine ranks survivors per query via a window top-k.

    When the query set probes few DISTINCT buckets (<=1000, decided by one
    small distinct-limit job on the skinny bucket column — not by query
    count, which is a proxy), the index scan lists only those buckets'
    files and the exploded query side is broadcast. At millions of
    queries every bucket is hit anyway, so the plain shuffle join over
    every file is the right plan and is used. ``prune_partitions`` forces
    either path.
    """
    meta, files = _index(path, "ann")
    n_planes, dim = meta["n_planes"], meta["dim"]
    planes = _planes(n_planes, dim, meta["seed"])

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
    return _probe_many(spark, meta, files, exploded, k, query_id_col,
                       query_vec_col, prune_partitions)


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
    """Approximate top-k over a raw embedding table, bucketized
    transiently for this one query: probes the query's bucket plus its
    ``n_probes`` nearest sign-flips, exact-ranks the survivors; cost stays
    ~(probes/2^planes) of the corpus after the bucketize pass.
    :func:`probe_ann_index` is the persisted path, which bucketizes once
    and reads only the probed buckets' files."""
    planes = _planes(n_planes, len(query), seed)
    probe = _probe_buckets(query, planes, n_probes)
    return brute_force_topk(
        _bucketize(emb, planes, id_col, vec_col)
        .where(F.col("bucket").isin(probe)), query, k, id_col, vec_col)


# ------------------------- IVF (k-means coarse lists) -----------------------
# The second classic ANN scale path next to LSH: partition the corpus into
# n_lists Voronoi cells of spherical-k-means centroids (trained driver-side
# on a bounded sample, the standard IVF recipe), persist the corpus one
# file per cell, probe only the n_probes nearest cells per query.
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
    every vector distributedly, persist one parquet file per list,
    published with the centroids as one lineage version (see _build).
    Replaces the index already at ``path``. Returns the index DataFrame.
    Raises ValueError, before any job, for a non-local path, and before
    training for an empty corpus."""
    _local_root(path)
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
    if samp.empty:
        raise ValueError(_EMPTY.format("IVF", path))
    m = _unit_rows(np.vstack(samp[vec_col].to_numpy()).astype(np.float64))
    cent = _spherical_kmeans(m, n_lists, seed, iters)
    return _build(_assign_lists(emb, cent, id_col, vec_col), path,
                  {"kind": "ivf", "n_lists": int(n_lists), "seed": int(seed),
                   "id_col": id_col, "vec_col": vec_col,
                   "centroids": cent.ravel().tolist()})


def _centroids(meta: dict) -> np.ndarray:
    return np.asarray(meta["centroids"], dtype=np.float64) \
        .reshape(meta["n_lists"], meta["dim"])


def probe_ivf_index(spark, path: str, query: list[float], k: int = 10,
                    n_probes: int = 2) -> DataFrame:
    """Top-k probe: rank cells by centroid similarity driver-side (n_lists
    dots), read only the n_probes nearest cells' files, exact-rank the
    survivors."""
    meta, files = _index(path, "ivf", query)
    q = _unit_rows(np.asarray([query], dtype=np.float64))[0]
    lists = np.argsort(-(_centroids(meta) @ q), kind="stable")[:n_probes]
    return brute_force_topk(
        _scan(spark, meta, [files[c] for c in map(int, lists) if c in files]),
        query, k, meta["id_col"], meta["vec_col"])


def probe_ivf_index_many(spark, path: str, queries: DataFrame, k: int = 10,
                         n_probes: int = 2, query_id_col: str = "query_id",
                         query_vec_col: str = "query_vec",
                         prune_partitions: bool | None = None) -> DataFrame:
    """Batch IVF probe, same plan shape as :func:`probe_ann_index_many`:
    explode each query to its n_probes nearest cells (one matmul per Arrow
    batch against the broadcast centroid matrix), ONE join on ``list_id``
    against the index, window top-k per query. Few distinct probed cells
    (<=1000, decided by a capped distinct job on the skinny list_id
    column) => only those cells' files are scanned + broadcast query side;
    a query set hitting every cell => plain shuffle join."""
    meta, files = _index(path, "ivf")
    dim, cent = meta["dim"], _centroids(meta)
    n_probes = min(n_probes, meta["n_lists"])

    def kernel(b: pa.RecordBatch) -> pa.Table:
        sims = _unit_rows(_query_matrix(b, query_vec_col, dim)) @ cent.T
        probes = np.argsort(-sims, axis=1, kind="stable")[:, :n_probes]
        return _explode(b, "list_id", probes)

    exploded = run_kernel(
        queries, [query_id_col, query_vec_col], kernel,
        f"{query_id_col} long, {query_vec_col} array<float>, list_id long")
    return _probe_many(spark, meta, files, exploded, k, query_id_col,
                       query_vec_col, prune_partitions)
