"""Spark jobs: encode a DataFrame into the stripes table, decode it back,
and the persistent form: stripe files committed through one versioned
lineage log, which also records each stripe's file and stats (resume,
snapshots, compaction, expiry).

Execution model (SURVEY.md §3.4):

    ENCODE: df
      -> bucket = pmod(xxhash64(key), n_buckets), salt = order // salt_rows
         (salting defuses long-conversation skew: one conversation can span
         several stripes; decode's global orderBy reassembles it)
      -> repartition by (bucket, salt)                        [one shuffle]
      -> ONE mapInArrow kernel per task (_stripe_groups): sort the
         partition in Arrow on (bucket, salt, sort keys), flatten nested
         columns to their leaves (_leaves), then per (bucket, salt)
         group: encode_stripe_arrow
      -> encode_dataframe: stripe rows (one per stripe-column)
    COMMIT (commit: encode_job, streaming batches, compact_job): the same
      kernel drops each group whose stripe id the lineage holds BEFORE
      encoding it, appends the others to the task's one parquet file and
      yields one facts row per stripe (file, key/order min-max, key bloom)
      -> collect the facts rows: the one job after the shuffle
      -> driver: lineage/<version>.parquet, their 'ok' rows with the
         layout params and the frame's schema, created exclusively — the
         commit point
    TABLE QUESTIONS (resume set, layout params, active set, as_of,
      snapshots, compaction victims, expiry, stripe pruning): one pyarrow
      read of the lineage log on the driver, no Spark job
    DECODE (decode_job, a persisted table): the log's active 'ok' rows
      -> prune stripes on the driver (min/max predicate over a local
         relation, key bloom probe)
      -> local (file, keep-list) rows, one task per file         [no shuffle]
      -> mapInArrow(pyarrow read with col_name/stripe_id pushed to the row
         groups; decode_stripe_arrow per stripe; nested columns rebuilt
         from their leaves in Arrow) emitting the recorded schema
      -> orderBy(sort keys) at comparison time only
    ROUNDTRIP (an in-memory frame): ENCODE then the DECODE kernel in the
      same stage — the encode output is already stripe-clustered, so no
      second shuffle and no sort — to df.schema
    Both decodes go through one step (_decode_to): one generator
    (_decode_runs) calls decode_stripe_arrow per stripe into the schema's
    leaves, and the same kernel rebuilds nested columns from them (_renest).

The stripes-as-rows layout is the Spark analog of the reference's
stripe/stream container (src/read/mod.rs:117-159): locating one column's
streams becomes a Catalyst filter on ``col_name`` instead of offset math,
and stripe-granular parallelism falls out of row partitioning.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from . import stripe as stripe_mod

STRIPE_SCHEMA = from_arrow_schema(stripe_mod.STRIPE_PA_SCHEMA)

DEFAULT_STRIPE_ROWS = 65_536
# stripes per encode task: the encode kernel holds its whole partition to
# sort it in Arrow, plus one group's copy while that group encodes, so
# task memory ≈ this many stripes of raw input, plus one
STRIPES_PER_PARTITION = 4


_MM32 = 0xFFFFFFFF


def _murmur3_long(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashLong (the hash behind repartition(n, col)
    for a LongType column), as a signed int32 — pinned against F.hash and
    actual repartition placement by tests/test_pipeline_commit.py."""
    def rotl(x, n):
        return ((x << n) | (x >> (32 - n))) & _MM32

    def mix_k1(k1):
        return (rotl((k1 * 0xCC9E2D51) & _MM32, 15) * 0x1B873593) & _MM32

    def mix_h1(h1, k1):
        return (rotl(h1 ^ k1, 13) * 5 + 0xE6546B64) & _MM32

    v &= 0xFFFFFFFFFFFFFFFF
    h1 = mix_h1(seed, mix_k1(v & _MM32))
    h1 = mix_h1(h1, mix_k1(v >> 32))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _MM32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _MM32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _partition_probes(p: int) -> list[int]:
    """probes[t] = smallest non-negative long that Spark's hash partitioner
    sends to partition t of p. Lets the encode shuffle place stripe group
    g on partition (g mod p) EXACTLY (round-robin), instead of the hash
    assignment whose max load is ~2-3x the mean for group counts within a
    small multiple of the core count (the bench regime: 83 groups into 32
    partitions put up to 6 stripes on one task — a 2x kernel straggler).
    O(p^2) driver-side hash evaluations, cached per p."""
    probes: list[int | None] = [None] * p
    found, m = 0, 0
    while found < p:
        t = _murmur3_long(m) % p
        if t < 0:
            t += p
        if probes[t] is None:
            probes[t] = m
            found += 1
        m += 1
    return probes  # type: ignore[return-value]


_probe_cache: dict[int, list[int]] = {}


# balanced placement only below this group count: beyond it the
# n_groups/STRIPES_PER_PARTITION floor dominates _work_partitions and the
# per-partition group count is large enough that hash placement is already
# balanced (law of large numbers); the probe literal array also stays tiny
_BALANCE_MAX_GROUPS = 4096


def _work_partitions(spark: SparkSession, n_groups: int) -> int:
    """Task count of the encode shuffle, whose one kernel per task sorts,
    encodes and (for a commit) writes its partition. Pinned explicitly
    because AQE's size-based coalescing targets ~64MB partitions and would
    serialize CPU-heavy (but byte-light) codec work onto a handful of tasks.
    Scales with both cluster parallelism and data volume
    (≤STRIPES_PER_PARTITION stripes per task bounds the memory of the
    kernel's in-Arrow partition sort).

    ONE task wave per core, not four: every task pays the JVM↔Python Arrow
    boundary (serialize + fetch + worker dispatch), so at fixed data volume
    4x the tasks is 4x that fixed cost for no extra parallelism — measured
    on the bench encode (672k turns, 82 stripes, 32 cores): cores*4 ≈
    4.6-7.3 s, cores*1 ≈ 3.1-3.7 s. That measurement predates the zip
    directory cache (orc_format_spark._cache_zip_directories), which cut
    the per-task cost by more than half (see _tasks). Balance is preserved
    by the n_groups/STRIPES_PER_PARTITION floor: big inputs get as many
    tasks as their stripe count needs, small inputs get exactly the cluster
    width."""
    cores = spark.sparkContext.defaultParallelism
    return max(cores, -(-n_groups // STRIPES_PER_PARTITION))


def _tasks(spark: SparkSession, n: int) -> int:
    """Task count of a Python stage over ``n`` units of work (files, ORC
    stripes, row blocks): one task per unit, at most one wave per core —
    every task pays the JVM↔Python Arrow boundary, so tasks beyond the
    core count or without work only add that fixed cost. On a 4-core host
    a no-op ``mapInArrow`` task adds ~70 ms of latency over a JVM-only one;
    before the zip directory cache (orc_format_spark._cache_zip_directories)
    it added ~180 ms, most of it re-reading pyspark.zip and the spark-core
    jar at every task start."""
    return max(1, min(spark.sparkContext.defaultParallelism, n))


# struct-leaf name separator: a middle dot, NOT ".", so a leaf name (a
# stripe row's col_name) never reads as Spark struct field access
_STRUCT_SEP = "\u00b7"


_PRESENT = "__present__"  # a struct's present leaf
_MAP_KEYS = "__map_keys__"
_MAP_VALS = "__map_vals__"
_ELEMS = "__elems__"  # element-present leaf of an array of struct/map
_ITEM = "__item__"    # anonymous segment for an array level directly
                      # inside another array (array<array<struct>> etc.)


_RESERVED_SEGMENTS = frozenset(
    {_PRESENT, _ELEMS, _ITEM, _MAP_KEYS, _MAP_VALS})


def _check_field_names(prefix: str, dtype) -> None:
    """Loudly reject nested field names that would collide with the
    flatten's reserved segments or its ``·`` separator — a collision
    would silently corrupt the leaf mapping."""
    def bad(name: str) -> bool:
        return name in _RESERVED_SEGMENTS or _STRUCT_SEP in name
    if isinstance(dtype, T.StructType):
        for sub in dtype.fields:
            if bad(sub.name):
                raise ValueError(
                    f"column {prefix!r}: nested field name {sub.name!r} "
                    f"collides with a reserved flatten segment or contains "
                    f"{_STRUCT_SEP!r}")
            _check_field_names(f"{prefix}.{sub.name}", sub.dataType)
    elif isinstance(dtype, T.MapType):
        _check_field_names(prefix, dtype.keyType)
        _check_field_names(prefix, dtype.valueType)
    elif isinstance(dtype, T.ArrayType):
        _check_field_names(prefix, dtype.elementType)


def _nested(dtype) -> bool:
    """True when a column of ``dtype`` is stored as several leaves: a
    struct, a map, or an array holding one at any depth. A chain of arrays
    of a scalar stays one leaf (the recursive ``list:`` kinds)."""
    if isinstance(dtype, T.ArrayType):
        return _nested(dtype.elementType)
    return isinstance(dtype, (T.StructType, T.MapType))


def _wrapped(name: str, dtype, arr: pa.Array, wrap: tuple):
    """(StructField, array) of a leaf whose values at its own level are
    ``arr``, wrapped in the enclosing list levels ``wrap``."""
    for offsets, nulls in reversed(wrap):
        dtype = T.ArrayType(dtype)
        arr = pa.ListArray.from_arrays(offsets, arr, mask=nulls)
    return T.StructField(name, dtype), arr


def _leaves(name: str, dtype, arr: pa.Array, wrap: tuple = (),
            present: str = _PRESENT):
    """(StructField, Arrow array) of each stripe column of the nested
    column ``name``, of Spark type ``dtype`` and values ``arr``: the ORC
    model, where a struct owns only a Present stream and its children
    follow it (the reference's Kind::Struct, src/proto.rs:195). ONE
    recursion at any depth:

    - struct: a boolean ``__present__`` leaf, then each field's leaves,
      null where the struct is (``flatten`` merges the parent validity);
    - map: parallel keys / values list leaves, null where the map is
      (ORC's map layout, Kind::Map, src/proto.rs:193);
    - array whose element holds a struct or map: an element-present
      ``__elems__`` leaf, then the element's leaves (an inner array under
      an anonymous ``__item__`` segment) one list level down.

    ``wrap`` holds the enclosing list levels, outermost first, as
    (offsets, null mask) pairs; every leaf comes out wrapped in them (a
    leaf type ``array<...>`` per level, the recursive ``list:`` kinds).
    Offsets index the unsliced child arrays, so a sliced ``arr`` works.
    ``present`` names a struct's present leaf: an array's struct element
    has ``__elems__`` for it. Any other type is one leaf."""
    sep = name + _STRUCT_SEP
    if isinstance(dtype, T.StructType):
        yield _wrapped(sep + present, T.BooleanType(), arr.is_valid(), wrap)
        for sub, child in zip(dtype.fields, arr.flatten()):
            yield from _leaves(sep + sub.name, sub.dataType, child, wrap)
    elif isinstance(dtype, T.MapType):
        for seg, t, values in (
                (_MAP_KEYS, T.ArrayType(dtype.keyType, False), arr.keys),
                (_MAP_VALS, T.ArrayType(dtype.valueType,
                                        dtype.valueContainsNull), arr.items)):
            yield from _leaves(sep + seg, t, pa.ListArray.from_arrays(
                arr.offsets, values, mask=arr.is_null()), wrap)
    elif _nested(dtype):  # an array holding a struct or map
        et, wrap = dtype.elementType, (*wrap, (arr.offsets, arr.is_null()))
        # a struct element's own present leaf is the __elems__ leaf
        if not isinstance(et, T.StructType):
            yield _wrapped(sep + _ELEMS, T.BooleanType(),
                           arr.values.is_valid(), wrap)
        yield from _leaves(sep + _ITEM if isinstance(et, T.ArrayType)
                           else name, et, arr.values, wrap, _ELEMS)
    else:
        yield _wrapped(name, dtype, arr, wrap)


def _leaf_columns(schema: T.StructType, tbl: pa.Table | None = None) -> list:
    """(StructField, Arrow column) of every stripe column of ``tbl``'s
    ``schema`` columns: each nested column's leaves (see _leaves), each
    plain column as it is. Without ``tbl``, of an empty table: the leaf
    layout alone."""
    if tbl is None:
        tbl = _arrow_schema(schema).empty_table()
    return [leaf for f in schema.fields for leaf in (
        _leaves(f.name, f.dataType, tbl[f.name].combine_chunks())
        if _nested(f.dataType) else [(f, tbl[f.name])])]


def _kinds(leaves: list) -> dict[str, str]:
    """Stripe column -> engine kind, for _leaf_columns' (field, column)
    pairs; raises ValueError on a type the engine cannot encode."""
    return {f.name: stripe_mod.spark_kind(f.dataType.simpleString())
            for f, _ in leaves}


def _renest(name: str, dtype, atype: pa.DataType, leaf,
            present: str = _PRESENT) -> pa.Array:
    """The nested column ``name`` of Spark type ``dtype`` as an Arrow array
    of type ``atype``, rebuilt from its decoded leaves: the inverse of
    _leaves. ``leaf(name)`` is a leaf's array at the current list level.
    Decoded lists are compact (a null slot spans no values, offsets start
    at 0), so every leaf under a list level shares its offsets and the
    level's values are each leaf's ``.values``."""
    sep = name + _STRUCT_SEP
    if isinstance(dtype, T.StructType):
        return pa.StructArray.from_arrays(
            [_renest(sep + s.name, s.dataType, f.type, leaf)
             for s, f in zip(dtype.fields, atype)],
            fields=list(atype), mask=pc.invert(leaf(sep + present)))
    if isinstance(dtype, T.MapType):
        keys, items = (
            _renest(sep + seg, t, pa.list_(f), leaf) for seg, t, f in (
                (_MAP_KEYS, T.ArrayType(dtype.keyType, False),
                 atype.key_field),
                (_MAP_VALS, T.ArrayType(dtype.valueType,
                                        dtype.valueContainsNull),
                 atype.item_field)))
        # a null offset marks a null map: MapArray.from_arrays takes no mask
        offsets = pa.array(keys.offsets.to_numpy(), mask=np.append(
            keys.is_null().to_numpy(zero_copy_only=False), False))
        return pa.MapArray.from_arrays(offsets, keys.values, items.values,
                                       type=atype)
    if _nested(dtype):  # an array holding a struct or map
        et, elems = dtype.elementType, leaf(sep + _ELEMS)
        values = _renest(sep + _ITEM if isinstance(et, T.ArrayType) else name,
                         et, atype.value_type, lambda nm: leaf(nm).values,
                         _ELEMS)
        return pa.ListArray.from_arrays(elems.offsets, values, type=atype,
                                        mask=elems.is_null())
    return leaf(name)


def _n_buckets(df: DataFrame, stripe_rows: int) -> int:
    """One hash bucket per ``stripe_rows`` input rows; the row count comes
    from parquet footers when ``df`` is file-backed, else from one count
    job."""
    n_rows = _estimate_rows(df)
    if n_rows is None:
        n_rows = df.count()
    return max((n_rows + stripe_rows - 1) // stripe_rows, 1)


def _parquet_scan(df: DataFrame) -> list[str] | None:
    """Paths of the parquet files ``df`` reads when its plan is that one
    scan under projections and filters only, else None. Only then do the
    files' footer row counts describe ``df``: ``inputFiles()`` alone also
    lists the scans under a join, union, aggregate or decode kernel."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while node.nodeName() in ("Project", "Filter"):
            node = node.child()
        if node.nodeName() != "LogicalRelation":
            return None
        files = df.inputFiles()
    except Exception:
        return None
    if not files or any(".parquet" not in f for f in files):
        return None
    return [f[7:] if f.startswith("file://") else
            f[5:] if f.startswith("file:") else f for f in files]


def _estimate_rows(df: DataFrame) -> int | None:
    """Row count from parquet FOOTERS when ``df`` is a plain parquet scan
    (see _parquet_scan) — metadata only, no data scan (kills the count()
    pre-pass the encode job used to pay; at 100 TB that pre-pass is an
    extra full read). Exact when all footers are read; with many files,
    samples 64 footers and extrapolates by byte size (n_buckets only needs
    order-of-magnitude accuracy). Returns None for any other plan (caller
    falls back)."""
    paths = _parquet_scan(df)
    if paths is None:
        return None
    import pyarrow.parquet as pq
    try:
        if len(paths) <= 64:
            return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        # touch ONLY the 64 sampled footers driver-side: stat-ing every
        # file to byte-weight the extrapolation is O(all files) of
        # HEAD-equivalents on an object store (millions at 100 TB) before
        # the job even starts, for no accuracy n_buckets needs. A stride
        # sample over the sorted listing is unbiased in expectation, so
        # mean-rows-per-file x file count is the right cheap estimate.
        sample = sorted(paths)[:: max(len(paths) // 64, 1)][:64]
        srows = sum(pq.ParquetFile(p).metadata.num_rows for p in sample)
        return int(srows / len(sample) * len(paths))
    except Exception:
        return None


# rows a kernel task should carry at least when run_kernel spreads a small
# scan: each task pays a fixed JVM<->Python Arrow boundary (~70 ms, see
# _tasks), so below a few hundred rows the boundary dominates the numpy
# kernel
KERNEL_ROWS_PER_TASK = 512


def run_kernel(df: DataFrame, cols: list[str], fn, schema) -> DataFrame:
    """Run ``fn(pa.RecordBatch) -> pa.RecordBatch | pa.Table`` on every
    non-empty Arrow batch of ``df.select(*cols)`` (``mapInArrow``). The
    output is cast to ``schema`` (Spark DDL string or StructType), so a
    kernel's column names must match it; types are coerced.

    Sizing: a plain parquet scan (see _parquet_scan) over fewer files than
    cores arrives as one or two scan partitions, which would serialize the
    numpy work onto one core, so it is round-robin repartitioned to
    ``_tasks(spark, ceil(footer_rows / KERNEL_ROWS_PER_TASK))``. Any other
    input keeps its partitioning: a derived frame (decode output, union,
    join, cache) was already sized by the stage that made it.

    What stays outside: ``_work_partitions`` remains the encode shuffle's
    own rule because it alone has a memory floor (STRIPES_PER_PARTITION
    stripes per task), and the probe placement of ``_partition_probes``
    depends on its width. Kernels that carry state across batches or need
    the whole partition call ``mapInArrow`` directly: the encode kernels
    over ``_stripe_groups`` (which sort the whole partition), the decode
    kernels over ``_decode_runs``, the ORC ``decode`` of
    ``orc_reader.spark_read_orc`` and the task-side writers."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    df = df.select(*cols)
    files = _parquet_scan(df)
    if files is not None and len(files) < cores:
        rows = _estimate_rows(df)
        df = df.repartition(_tasks(spark, cores if rows is None
                                   else -(-rows // KERNEL_ROWS_PER_TASK)))
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    target = _arrow_schema(schema)

    def kernel(batches):
        for b in batches:
            if b.num_rows:
                yield from pa.table(fn(b)).cast(target).to_batches()

    return df.mapInArrow(kernel, schema)


def _column(batch, name: str):
    """``batch[name]``; raises ValueError naming the column when it holds
    a null (the kernels' buffer views would read a null as a value)."""
    arr = batch.column(name)
    if arr.null_count:
        raise ValueError(f"column {name!r} has {arr.null_count} null "
                         "value(s); this kernel needs a value in every row")
    return arr


def _binary_view(batch, name: str):
    """(flat uint8 buffer, int64 offsets from 0) views over a string or
    binary column: the bytes of every row, contiguous, no per-row copy.
    Slice-safe (honours the array offset)."""
    arr = _column(batch, name).cast(pa.binary())
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                         count=len(arr) + arr.offset + 1)
    offs = offs[arr.offset:].astype(np.int64)
    data = arr.buffers()[2]
    buf = np.frombuffer(data, dtype=np.uint8) if data is not None \
        else np.zeros(0, dtype=np.uint8)
    return buf[offs[0]:offs[-1]], offs - offs[0]


def _vectors(batch, name: str):
    """(rows, dim) numpy view of a list<float|double> column, element type
    kept; raises ValueError on a null or ragged row."""
    arr = _column(batch, name)
    lens = np.diff(arr.offsets.to_numpy())
    if len(lens) and lens.min() != lens.max():
        raise ValueError(f"column {name!r} mixes vector lengths "
                         f"{lens.min()} and {lens.max()}")
    return arr.flatten().to_numpy().reshape(len(arr), -1)


# Spark types the encode kernel's Arrow sort orders as Spark's ascending
# sort does; a sort key of any other type (list, struct, map) is refused
_SORTABLE = (T.NumericType, T.StringType, T.CharType, T.VarcharType,
             T.BinaryType, T.BooleanType, T.DateType, T.TimestampType,
             T.TimestampNTZType)


def _keyed(df: DataFrame, key_col: str, order_col: str | None,
           sort_keys: list[str] | None, stripe_rows: int,
           n_buckets: int | None
           ) -> tuple[DataFrame, T.StructType, list[str]]:
    """(shuffled frame, schema of its data columns, sort keys) of an
    encode: ``df`` with its ``__bucket`` / ``__salt`` (/ ``__probe``)
    columns added in one projection, and ONE explicit shuffle that lands
    each (bucket, salt) group whole in one partition (see _work_partitions
    for why the count is pinned). There is no sort: the encode kernel
    orders each partition in Arrow and flattens nested columns to their
    leaves (see _stripe_groups). Raises ValueError on the driver, before
    any job runs, naming a sort key that is not a column or that Arrow
    cannot order, a nested field name that collides with a leaf name
    segment, or a type the engine cannot encode."""
    sort_keys = sort_keys or [k for k in (key_col, order_col) if k]
    types = {f.name: f.dataType for f in df.schema}
    for k in sort_keys:
        if k not in types:
            raise ValueError(f"sort key {k!r} is not a column of the frame")
        if not isinstance(types[k], _SORTABLE):
            raise ValueError(
                f"sort key {k!r} is {types[k].simpleString()}, which the "
                "encode kernel cannot order: sort on a scalar column")
    for f in df.schema.fields:
        if _nested(f.dataType):
            _check_field_names(f.name, f.dataType)
    _kinds(_leaf_columns(df.schema))
    if n_buckets is None:
        n_buckets = _n_buckets(df, stripe_rows)
    # the key columns as SQL text, one selectExpr: each Column call
    # captures its Python call site, ~1 ms apiece in PySpark 4.1
    bucket = f"pmod(xxhash64({_sql_name(key_col)}), {n_buckets})"
    salt = "0"
    if order_col:
        order = _sql_name(order_col)
        bad = f"{order} IS NULL"
        if isinstance(types.get(order_col), (T.FloatType, T.DoubleType)):
            bad += f" OR abs({order}) = CAST('Infinity' AS DOUBLE)"
        # fails the projection, before any row is encoded
        msg = (f"order column {order_col!r} holds a null or infinite value: "
               "every row needs a finite order value to place it in a stripe")
        salt = (f"CASE WHEN {bad} THEN raise_error({_sql_str(msg)}) "
                f"ELSE CAST(floor({order} / {stripe_rows}) AS BIGINT) END")
    keys = [f"{bucket} AS __bucket", f"{salt} AS __salt"]
    p = _work_partitions(df.sparkSession, n_buckets)
    if n_buckets > _BALANCE_MAX_GROUPS:
        return (df.selectExpr("*", *keys).repartition(p, "__bucket", "__salt"),
                df.schema, sort_keys)
    # EXACT round-robin group placement: group (bucket, salt) goes to
    # partition (bucket + salt) mod p via a probe value chosen so Spark's
    # hash partitioner lands it there (see _partition_probes).
    # Deterministic (same placement every run/retry), stripe contents
    # unchanged — only which task encodes which stripe moves.
    probes = _probe_cache.setdefault(p, _partition_probes(p))
    probe = (f"CAST(element_at(array({', '.join(map(str, probes))}), "
             f"CAST(pmod(({bucket}) + ({salt}), {p}) + 1 AS INT)) AS BIGINT)")
    return (df.selectExpr("*", *keys, f"{probe} AS __probe")
            .repartition(p, "__probe"), df.schema, sort_keys)


def _sql_name(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(text: str) -> str:
    """``text`` as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _stripe_groups(batches, schema: T.StructType, sort_keys: list[str],
                   stripe_prefix: str = "", skip=frozenset(),
                   **encode_kwargs):
    """The stripes of one shuffled encode partition (see _keyed), in
    (bucket, salt) order: one RecordBatch of stripe-column rows per group.

    The partition is sorted in Arrow on (__bucket, __salt, *sort_keys) in
    Spark's ascending order — nulls first, NaN after every number (Arrow
    alone would put NaN next to the nulls), -0.0 equal to 0.0 — and each
    group is taken by its slice of the sort indices, so no sorted copy of
    the whole partition is built. The ``schema`` columns are encoded, each
    nested one as its leaves (see _leaf_columns), derived once for the
    whole partition. A group whose stripe id is in ``skip`` is dropped
    BEFORE it is encoded. ``encode_kwargs`` (force_codecs, index_rows,
    bloom_cols) go to encode_stripe_arrow."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    # one chunk per column: a take from a many-chunk column concatenates
    # the chunks again on every call
    tbl = pa.Table.from_batches(batches).combine_chunks()
    del batches  # a many-chunk partition was copied: free the chunks
    keys = {"b": tbl["__bucket"], "s": tbl["__salt"]}
    for i, k in enumerate(sort_keys):
        if pa.types.is_floating(tbl[k].type):
            keys[f"n{i}"] = pc.is_nan(tbl[k])  # false < true; null stays first
        keys[f"k{i}"] = tbl[k]
    order = pc.sort_indices(pa.table(keys),
                            sort_keys=[(n, "ascending") for n in keys],
                            null_placement="at_start")
    b = tbl["__bucket"].take(order).to_numpy()
    s = tbl["__salt"].take(order).to_numpy()
    change = np.flatnonzero((np.diff(b) != 0) | (np.diff(s) != 0)) + 1
    bounds = np.concatenate(([0], change, [len(b)]))
    leaves = _leaf_columns(schema, tbl)
    kinds = _kinds(leaves)
    data = pa.table([col for _, col in leaves], names=list(kinds))
    for lo, hi in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
        sid = f"{stripe_prefix}{int(b[lo]):08d}-{int(s[lo]):06d}"
        if sid in skip:
            continue
        yield stripe_mod.stripe_rows_to_batch(stripe_mod.encode_stripe_arrow(
            data.take(order[lo:hi]), kinds, sid, int(b[lo]), **encode_kwargs))


def encode_dataframe(df: DataFrame, key_col: str, order_col: str | None = None,
                     sort_keys: list[str] | None = None,
                     stripe_rows: int = DEFAULT_STRIPE_ROWS,
                     n_buckets: int | None = None,
                     force_codecs: dict[str, str] | None = None,
                     index_rows: int | None = None,
                     bloom_cols: list[str] | None = None) -> DataFrame:
    """Encode ``df`` into stripe-column rows (lazy; one shuffle, then one
    kernel per task, see _stripe_groups).

    ``key_col`` groups related rows into the same stripe (conv_id);
    ``order_col`` both orders rows within the stripe and salts oversized
    groups (turn_idx // stripe_rows) so a single huge conversation cannot
    blow past the stripe-size cap (skew handling, north_rule).
    ``sort_keys`` (default key_col, order_col) order rows within a stripe;
    each must be a scalar column (ValueError otherwise).
    ``index_rows`` adds a row-group index: every column is encoded in
    strides of that many rows with per-stride stats, enabling sub-stripe
    skipping at decode (see roundtrip's ``stride_range``).
    ``bloom_cols`` get per-stripe distinct-value bloom filters (point-lookup
    stripe pruning on hash-bucketed keys where min/max never prunes).
    Nested columns are encoded as their leaves (see _leaves).
    """
    keyed, schema, sort_keys = _keyed(df, key_col, order_col, sort_keys,
                                      stripe_rows, n_buckets)

    def encode_partition(batches):
        return _stripe_groups(batches, schema, sort_keys,
                              force_codecs=force_codecs,
                              index_rows=index_rows, bloom_cols=bloom_cols)

    # stripe-clustered by construction: each (bucket, salt) group lands
    # whole in one partition and its column rows are emitted contiguously
    # (what lets roundtrip decode it without a second shuffle)
    return keyed.mapInArrow(encode_partition, STRIPE_SCHEMA)


def _arrow_schema(schema: T.StructType):
    """Arrow schema of decoded batches; Spark timestamps map to tz=UTC
    (the decoder's int64s are UTC instants)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(schema)


def _scan_cols(columns: list[str], stride_range: tuple | None) -> list[str]:
    """The stripe-column rows a decode reads: ``columns``, plus the
    ``stride_range`` column, whose row holds the stride stats."""
    if stride_range is None or stride_range[0] in columns:
        return list(columns)
    return [*columns, stride_range[0]]


def _decode_runs(tables, columns: list[str], target_schema,
                 stride_range: tuple | None, where: str, expect=()):
    """Decoded batches of the stripe-column rows in ``tables``, Arrow
    tables whose rows arrive stripe-contiguous: one batch per stripe,
    yielded as soon as its last row has arrived, so task memory is one
    stripe's rows plus one incoming table. A stripe whose rows span a
    table boundary is carried into the next table. A stripe lacking one of
    its scan columns (see _scan_cols), or an id in ``expect`` whose rows
    never arrive, raises ValueError naming ``where``. The one decode
    kernel: roundtrip streams the encode output through it, decode_job
    one table per stripe file."""
    scan_cols = _scan_cols(columns, stride_range)
    seen = set()

    def decode(rows):
        sid = rows[0]["stripe_id"]
        seen.add(sid)
        lost = set(scan_cols) - {r["col_name"] for r in rows}
        if lost:
            raise ValueError(f"stripe {sid} lacks columns {sorted(lost)} "
                             f"in {where}")
        return stripe_mod.decode_stripe_arrow(rows, columns, target_schema,
                                              stride_range=stride_range)

    pending = None  # rows of the stripe straddling the table boundary
    for tbl in tables:
        if not tbl.num_rows:
            continue
        if pending is not None:
            tbl = pa.concat_tables([pending, tbl])
        codes = np.asarray(tbl["stripe_id"].combine_chunks()
                           .dictionary_encode().indices)
        bounds = np.concatenate(
            ([0], np.flatnonzero(np.diff(codes)) + 1, [len(codes)])).tolist()
        for lo, hi in zip(bounds[:-2], bounds[1:-1]):
            yield decode(tbl.slice(lo, hi - lo).to_pylist())
        pending = tbl.slice(bounds[-2])
    if pending is not None:
        yield decode(pending.to_pylist())
    missing = [sid for sid in expect if sid not in seen]
    if missing:
        raise ValueError(f"stripe {missing[0]} lacks columns "
                         f"{sorted(scan_cols)} in {where}")


def _decode_to(schema: T.StructType, columns: list[str] | None,
               stride_range: tuple | None, frame, runs) -> DataFrame:
    """``schema`` (restricted to the top-level ``columns``) decoded by ONE
    ``mapInArrow`` over ``frame(scan_cols)``, the stripe-column rows of
    the scan columns (see _scan_cols): ``runs(batches, scan_cols)`` yields
    a task's (Arrow tables, where, expected stripe ids), which
    _decode_runs decodes into the stripe columns of ``schema`` (see
    _leaf_columns). The same kernel rebuilds each nested column from its
    leaves (see _renest), so it emits ``schema``'s Arrow types exactly,
    nested nullability included, and no projection follows it. The one
    decode step of roundtrip and decode_job."""
    if columns:
        schema = T.StructType([schema[c] for c in columns])
    target = _arrow_schema(schema)
    leaves = _leaf_columns(schema)
    names = [f.name for f, _ in leaves]
    flat = names == schema.names
    leaf_schema = target if flat else pa.schema(
        [(f.name, col.type) for f, col in leaves])
    scan_cols = _scan_cols(names, stride_range)

    def renest(b):
        return pa.RecordBatch.from_arrays(
            [_renest(f.name, f.dataType, t.type, b.column)
             if _nested(f.dataType) else b.column(f.name)
             for f, t in zip(schema.fields, target)], schema=target)

    def decode(batches):
        for tables, where, expect in runs(batches, scan_cols):
            for b in _decode_runs(tables, names, leaf_schema, stride_range,
                                  where, expect):
                yield b if flat else renest(b)

    return frame(scan_cols).mapInArrow(decode, schema)


def roundtrip(df: DataFrame, key_col: str, order_col: str | None = None, *,
              columns: list[str] | None = None,
              stride_range: tuple | None = None,
              **encode_kwargs) -> DataFrame:
    """decode(encode(df)) in memory, as ONE stage: scan -> exchange ->
    encode kernel -> col_name filter -> decode kernel. The encode output
    is already stripe-contiguous per partition, so the encoded bytes are
    never shuffled a second time. The decoded schema is ``df.schema``
    (restricted to ``columns``), rebuilt as decode_job rebuilds a table's
    recorded schema (see _decode_to). ``encode_kwargs`` go to
    :func:`encode_dataframe`.

    ``stride_range`` = (col_name, lo, hi): on row-group-indexed stripes
    (``index_rows``), decode ONLY the strides whose per-stride [min,max]
    for that column overlaps [lo, hi] (sub-stripe skipping). The caller
    applies the exact residual predicate; strides are a superset of
    matching rows."""
    def frame(scan_cols):
        # the filter keeps row order, so per-stripe contiguity still holds
        return (encode_dataframe(df, key_col, order_col, **encode_kwargs)
                .filter(F.col("col_name").isin(scan_cols)))

    def runs(batches, scan_cols):
        yield ((pa.Table.from_batches([b]) for b in batches),
               "the encode output", ())

    return _decode_to(df.schema, columns, stride_range, frame, runs)


def _decode_files(spark: SparkSession, out_dir: str, stripes: list[dict],
                  schema: T.StructType, columns: list[str] | None = None,
                  stride_range: tuple | None = None) -> DataFrame:
    """Decode ``stripes``, 'ok' lineage rows, each from the file its
    ``path`` names, to ``schema`` (see _decode_to). One ``mapInArrow``
    task per file, at most one wave per core (``_tasks``), over a local
    (file, keep-list) relation: no exchange, the stripe bytes never cross
    the network. Each task reads its file with pyarrow through _table_fs,
    ``col_name`` and ``stripe_id`` pushed down to the parquet row
    groups."""
    by_file: dict[str, list[str]] = {}
    for r in sorted(stripes, key=lambda r: r["stripe_id"]):
        by_file.setdefault(r["path"], []).append(r["stripe_id"])
    plan = pa.table({"path": list(by_file), "keep": list(by_file.values())},
                    schema=pa.schema([("path", pa.string()),
                                      ("keep", pa.list_(pa.string()))]))
    # a local relation (plans under spark.sql.execution.arrow.
    # localRelationThreshold, 48 MB by default) scans as min(rows, cores)
    # partitions: the _tasks(spark, n_files) count, with no exchange and
    # no Python source stage (a parallelize()d plan measured 0.35 s slower
    # per read on a 4-core host)
    files = spark.createDataFrame(plan)
    filesystem, base = _table_fs(out_dir)

    def runs(batches, scan_cols):
        import pyarrow.parquet as pq
        for b in batches:
            for path, keep in zip(b.column("path").to_pylist(),
                                  b.column("keep").to_pylist()):
                tbl = pq.read_table(f"{base}/{path}", filesystem=filesystem,
                                    filters=[("col_name", "in", scan_cols),
                                             ("stripe_id", "in", keep)])
                yield ([tbl], f"{path}, the file the lineage of {out_dir} "
                       "names for it", keep)

    return _decode_to(schema, columns, stride_range, lambda _: files, runs)


# ---------------------------------------------------------------------------
# the persisted table: stripe files, committed through the lineage log
# ---------------------------------------------------------------------------
# A table is two directories. ``stripes/run=<id>/`` holds the stripe files,
# one per encode task. ``lineage/`` is the log, the table of record: one
# ``<version>.parquet`` per commit, created exclusively (the ordered log
# with exclusive commits of Delta Lake), holding an 'ok' row per published
# stripe, a 'compacted' row per stripe a compaction replaced and an
# 'expired' row per stripe whose run's bytes were freed. An 'ok' row also
# carries the stripe's facts a reader plans from — its file, key/order
# min-max and key bloom — as Delta's add entries carry per-file stats, and
# the commit's layout params, the table's Spark schema among them (Delta's
# schemaString; the ORC footer's types tree). Every table question (resume set, layout params, active set,
# snapshots, stripe pruning) is answered by reading that log on the driver
# with pyarrow, not by a Spark job. Stripe files a crashed writer left
# behind are never named by the log, so no reader sees them.

_STAT_COLS = ("stripe_id", "bucket", "n_rows", "col_name", "codec", "raw_bytes", "enc_bytes", "checksum", "min_val",
              "max_val", "bloom")

# a stripe's facts, its 'ok' lineage row before status, run and params:
# the StripeInformation + ColumnStatistics analog (src/proto.rs:206-217,
# 66-87) — sizes, the file holding the stripe (``path``, relative to the
# table root: the StripeInformation offset analog), key/order min-max for stripe pruning and the key bloom. A column the
# commit had no key/order column for holds nulls.
_STRIPE_FACTS = pa.schema([
    ("stripe_id", pa.string()), ("bucket", pa.int64()),
    ("n_rows", pa.int64()), ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()), ("n_cols", pa.int64()),
    ("path", pa.string()), ("codecs", pa.string()),
    ("checksum", pa.string()),
    ("key_min", pa.string()), ("key_max", pa.string()),
    ("order_min", pa.string()), ("order_max", pa.string()),
    ("key_bloom", pa.binary())])

# the facts only an 'ok' row holds: tombstones ('compacted', 'expired')
# name no file
_OK_ONLY = ("path", "key_min", "key_max", "order_min",
            "order_max", "key_bloom", "index_meta")

# ``index_meta``: an index build's parameters (JSON), on the first 'ok'
# row of the version that publishes its files (ops/similarity.py); null
# on every stripe table row. ``p_schema``: the encoded frame's Spark schema
# (JSON), the schema every decode of the table returns
LINEAGE_SCHEMA = pa.schema(list(_STRIPE_FACTS) + [
    ("status", pa.string()), ("run_id", pa.string()),
    ("committed_at", pa.timestamp("us", tz="UTC")),
    ("p_n_buckets", pa.int64()), ("p_stripe_rows", pa.int64()),
    ("p_key_col", pa.string()), ("p_order_col", pa.string()),
    ("p_index_rows", pa.int64()), ("p_bloom_cols", pa.string()),
    ("p_sort_keys", pa.string()), ("p_schema", pa.string()),
    ("index_meta", pa.string())])


def _stripe_facts(rows: list[dict], path: str, key_col: str | None,
                  order_col: str | None) -> dict:
    """The facts of one stripe from its stripe-column rows."""
    import hashlib

    def listing(field: str) -> str:
        # sorted "col:value" pairs; a null value leaves the bare column
        return ",".join(sorted(":".join(v for v in (r["col_name"], r[field])
                                        if v is not None) for r in rows))

    by_col = {r["col_name"]: r for r in rows}
    key, order = by_col.get(key_col, {}), by_col.get(order_col, {})
    return {"stripe_id": rows[0]["stripe_id"],
            "bucket": max(r["bucket"] for r in rows),
            "n_rows": max(r["n_rows"] for r in rows),
            "raw_bytes": sum(r["raw_bytes"] for r in rows),
            "enc_bytes": sum(r["enc_bytes"] for r in rows),
            "n_cols": len(rows), "path": path,
            "codecs": listing("codec"),
            "checksum": hashlib.sha1(listing("checksum").encode()).hexdigest(),
            "key_min": key.get("min_val"), "key_max": key.get("max_val"),
            "order_min": order.get("min_val"),
            "order_max": order.get("max_val"),
            "key_bloom": key.get("bloom")}


def _encoded_facts(df: DataFrame, out_dir: str, run_id: str, params: dict,
                   done: set[str], stripe_prefix: str = "") -> DataFrame:
    """Facts rows (_STRIPE_FACTS) of ``df`` encoded at the layout
    ``params`` (see _PARAMS) and written under ``stripes/run=<run_id>/``,
    lazily. ONE kernel per task of the encode shuffle: it sorts its
    partition, drops each group whose stripe id is in ``done`` before
    encoding it, encodes the others (see _stripe_groups), appends them to
    ONE parquet file (pyarrow, through _table_fs) named for the task
    attempt, and then yields one facts row per stripe. A task with no
    stripes writes no file; a failed attempt's partial file is named by
    no lineage row, so it is never read. Raises ValueError, before any
    job, for a table that cannot commit (see _local_root)."""
    _local_root(out_dir)
    key_col, order_col = params["key_col"], params["order_col"]
    keyed, schema, sort_keys = _keyed(
        df, key_col, order_col, params.get("sort_keys"),
        params["stripe_rows"], params["n_buckets"])
    index_rows, bloom_cols = params.get("index_rows"), params.get("bloom_cols")
    filesystem, base = _table_fs(out_dir)
    rel = f"stripes/run={run_id}"
    file_schema = stripe_mod.STRIPE_PA_SCHEMA

    def write(batches):
        import pyarrow.parquet as pq
        from pyspark import TaskContext
        name = (f"{rel}/part-{TaskContext.get().partitionId():05d}-"
                f"{uuid.uuid4().hex}.parquet")
        writer, by_stripe = None, {}
        try:
            for b in _stripe_groups(batches, schema, sort_keys, stripe_prefix,
                                    done, index_rows=index_rows,
                                    bloom_cols=bloom_cols):
                if writer is None:
                    filesystem.create_dir(f"{base}/{rel}", recursive=True)
                    writer = pq.ParquetWriter(f"{base}/{name}", file_schema,
                                              filesystem=filesystem)
                writer.write_table(
                    pa.Table.from_batches([b]).cast(file_schema))
                for r in b.select(list(_STAT_COLS)).to_pylist():
                    by_stripe.setdefault(r["stripe_id"], []).append(r)
        finally:
            if writer is not None:
                writer.close()
        if by_stripe:
            yield pa.RecordBatch.from_pylist(
                [_stripe_facts(rows, name, key_col, order_col)
                 for rows in by_stripe.values()], schema=_STRIPE_FACTS)

    return keyed.mapInArrow(write, from_arrow_schema(_STRIPE_FACTS))


def _log(out_dir: str) -> tuple[list[dict], int]:
    """(rows, next version) of the table's lineage log, read on the driver
    with pyarrow: every file directly under ``lineage/`` except hidden
    ``_``/``.`` entries (temp files, a crashed Spark append's
    ``_temporary``), in LINEAGE_SCHEMA's types. Files written before the log
    was versioned (Spark ``part-*`` files) carry no version number. A fresh
    table is ([], 1). Raises ValueError naming the table when a lineage
    file cannot be read — an unreadable log is never taken for a fresh
    one — and when an 'ok' row names no file: such a table was written
    while its stripe facts lived in a separate manifest table, which is
    not read."""
    import pyarrow.dataset as pads
    from pyarrow import fs as pafs
    filesystem, base = _table_fs(out_dir)
    files = sorted(i.path for i in filesystem.get_file_info(
        pafs.FileSelector(f"{base}/lineage", allow_not_found=True))
        if i.type == pafs.FileType.File and i.base_name[:1] not in "_.")
    stems = [os.path.basename(f).removesuffix(".parquet") for f in files]
    try:
        rows = pads.dataset(files, schema=LINEAGE_SCHEMA, format="parquet",
                            filesystem=filesystem).to_table().to_pylist()
    except (pa.ArrowException, OSError) as e:
        raise ValueError(f"the lineage of {out_dir} is unreadable: {e}") from e
    if any(r["status"] == "ok" and r["path"] is None for r in rows):
        raise ValueError(f"the lineage of {out_dir} names no stripe files: "
                         "the table was written before the lineage recorded "
                         "them — re-encode it")
    return rows, max((int(v) for v in stems if v.isdigit()), default=0) + 1


def _local_root(out_dir: str) -> str:
    """Local path of a table a commit writes to. A commit creates log
    versions exclusively (os.link), which only the local filesystem
    offers here: any other filesystem raises ValueError naming the
    table."""
    from pyarrow import fs as pafs
    filesystem, base = _table_fs(out_dir)
    if not isinstance(filesystem, pafs.LocalFileSystem):
        raise ValueError(f"cannot commit to {out_dir}: its filesystem "
                         f"({filesystem.type_name}) has no exclusive create, "
                         "which the lineage log needs")
    return base


def _create_version(out_dir: str, version: int, rows: list[dict]) -> None:
    """Create ``lineage/<version>.parquet`` holding ``rows``, exclusively:
    written in full to a hidden temp file, then hard-linked to its name,
    so no partial version is ever visible. Raises FileExistsError when
    another writer already took ``version``."""
    import pyarrow.parquet as pq
    log_dir = f"{_local_root(out_dir)}/lineage"
    os.makedirs(log_dir, exist_ok=True)
    tmp = f"{log_dir}/.{version:020d}.{uuid.uuid4().hex}.tmp"
    pq.write_table(pa.Table.from_pylist(rows, schema=LINEAGE_SCHEMA), tmp)
    try:
        os.link(tmp, f"{log_dir}/{version:020d}.parquet")
    finally:
        os.unlink(tmp)


def _publish(out_dir: str, pending: list[dict],
             log: tuple[list[dict], int], rebase=None) -> list[dict]:
    """Append ``pending`` lineage rows to the log as its next version and
    return the log's rows after it. Losing the version to a concurrent
    writer re-reads the log and retries at the next version with
    ``rebase(rows, pending)`` when given (which drops what the winner
    already published, or raises); nothing left to publish writes no
    version."""
    rows, version = log
    while pending:
        now = datetime.datetime.now(datetime.timezone.utc)
        stamped = [dict(r, committed_at=now) for r in pending]
        try:
            _create_version(out_dir, version, stamped)
            return rows + stamped
        except FileExistsError:
            rows, version = _log(out_dir)
            pending = rebase(rows, pending) if rebase else pending
    return rows


_PARAMS = ("n_buckets", "stripe_rows", "key_col", "order_col", "index_rows",
           "bloom_cols", "sort_keys", "schema")


def _param_cols(params: dict | None) -> dict:
    """The ``p_*`` lineage columns recording a commit's layout params."""
    p = dict(params or {})
    # -1 = "no stride index" (a real layout choice, not "unspecified"):
    # a None->value transition on resume is caught too
    p["index_rows"] = -1 if p.get("index_rows") is None else p["index_rows"]
    return {f"p_{k}": ",".join(v) if isinstance(v, (list, tuple)) else v
            for k in _PARAMS for v in [p.get(k)]}


def _lineage_rows(facts: list[dict], status: str, run_id: str,
                  params: dict | None) -> list[dict]:
    """Lineage rows (committed_at still unset) for the stripes whose facts
    or lineage rows are ``facts``; a tombstone keeps no _OK_ONLY fact."""
    cols = dict(_param_cols(params), status=status, run_id=run_id)
    if status != "ok":
        cols.update(dict.fromkeys(_OK_ONLY))
    return [dict(s, **cols) for s in facts]


def _recorded_params(rows: list[dict]) -> dict | None:
    """The ``p_*`` columns of the table's latest parameterized 'ok' row."""
    return max((r for r in rows if r["status"] == "ok"
                and r["p_n_buckets"] is not None),
               key=lambda r: r["committed_at"], default=None)


def _check_resume_params(rows: list[dict], out_dir: str,
                         params: dict) -> None:
    """Fail fast when resuming into an out_dir that was written with
    different partitioning parameters: stripe ids are a pure function of
    (input, n_buckets, stripe_rows, order_col), so a silent param change
    would pass the resume skip and append a disjoint second copy of the
    data.
    index_rows/bloom_cols/sort_keys don't move rows but DO change stripe
    bytes — a mismatch would break the 're-encoding a stripe reproduces
    identical bytes' invariant and produce a mixed-layout table, so they're
    guarded too, and so is the schema every decode of the table returns.
    A param the lineage does not record is not checked."""
    have = _recorded_params(rows)
    if have is None:
        return
    want = _param_cols(params)
    for k in _PARAMS:
        col = f"p_{k}"
        if None not in (want[col], have[col]) and have[col] != want[col]:
            raise ValueError(
                f"resume into {out_dir} with mismatched {k}: lineage has "
                f"{have[col]!r}, job has {want[col]!r} — stripe layout "
                "would not line up and the table would be silently mixed")


def _layout_params(rows: list[dict], out_dir: str) -> dict:
    """The table's layout params from its latest parameterized commit
    (commit records them on every lineage row), its schema among them."""
    row = _recorded_params(rows)
    if row is None:
        raise ValueError(f"the lineage of {out_dir} records no layout params "
                         "(pre-param table) — cannot compact safely")
    p = {k: row[f"p_{k}"] for k in _PARAMS}
    if p["index_rows"] == -1:
        p["index_rows"] = None
    p["bloom_cols"] = p["bloom_cols"].split(",") if p["bloom_cols"] else []
    p["sort_keys"] = p["sort_keys"].split(",") if p["sort_keys"] else None
    return p


def _held(rows: list[dict]) -> set[str]:
    """Ids of the stripes the log ``rows`` published: a commit skips them."""
    return {r["stripe_id"] for r in rows if r["status"] == "ok"}


def commit(df: DataFrame, out_dir: str, run_id: str, params: dict, *,
           stripe_prefix: str = "", log: tuple[list[dict], int] | None = None,
           tombstones: list[dict] = ()) -> list[dict]:
    """Encode ``df`` at the layout ``params`` (see _PARAMS; key_col and
    order_col included) and commit the stripes the lineage lacks; return
    the table's lineage rows after it. The params are recorded on every
    new lineage row, with ``df``'s schema as the table's schema.
    ``stripe_prefix`` starts every stripe id (a streaming batch's, a
    compaction run's).

    ONE kernel per encode task sorts its partition, drops the stripes the
    log holds before encoding them, and writes the others (see
    _encoded_facts); the driver collects their facts rows (the only Spark
    job after the shuffle) and the commit point is the creation of the
    next lineage version holding them as 'ok' rows (see _publish), with
    a compaction's ``tombstones`` in the same version. A commit that adds
    no stripe writes nothing. Cost is O(batch) plus one driver read of
    the log (``log``, when the caller already read it), never a read of
    earlier stripes.

    Raises ValueError when the lineage records different params or a
    different schema (see _check_resume_params). A compaction whose
    victims a concurrent writer tombstoned first raises RuntimeError; its
    bytes stay invisible orphans."""
    params = {**params, "schema": df.schema.json()}
    log = log if log is not None else _log(out_dir)
    _check_resume_params(log[0], out_dir, params)
    new = _encoded_facts(df, out_dir, run_id, params, _held(log[0]),
                         stripe_prefix).toArrow().to_pylist()
    victims = {r["stripe_id"] for r in tombstones}

    def rebase(rows, pending):
        hit = sorted(victims & {r["stripe_id"] for r in rows
                                if r["status"] == "compacted"})
        if hit:
            raise RuntimeError(
                f"concurrent compaction conflict on {out_dir}: victim stripe "
                f"{hit[0]!r} was tombstoned by another run after victim "
                "selection; aborting without publishing (this run's bytes "
                "remain invisible orphans) — rerun compact_job")
        held = _held(rows)
        return [r for r in pending
                if r["status"] != "ok" or r["stripe_id"] not in held]

    pending = _lineage_rows(new, "ok", run_id, params) + list(tombstones)
    return _publish(out_dir, pending, log, rebase)


def _schema(rows: list[dict], out_dir: str) -> T.StructType:
    """The table's schema, as its latest commit recorded it (see commit),
    read on the driver with no Spark job. Raises ValueError naming
    ``out_dir`` when no table is there, and when the lineage records no
    schema (a table written before it did)."""
    if not any(r["status"] == "ok" for r in rows):
        raise ValueError(f"no stripes table at {out_dir}: its lineage holds "
                         "no commit")
    row = _recorded_params(rows)
    if row is None or row["p_schema"] is None:
        raise ValueError(f"the lineage of {out_dir} records no schema: the "
                         "table was written before the lineage recorded "
                         "one — re-encode it")
    return T.StructType.fromJson(json.loads(row["p_schema"]))


def _manifest_frame(spark: SparkSession, stripes: list[dict],
                    rows: list[dict]) -> DataFrame:
    """The stripe facts of the lineage rows ``stripes`` as a local
    relation, which Spark filters and collects on the driver (no job).
    The ``key_*`` / ``order_*`` columns are there only when every commit
    in the log ``rows`` had a key / order column, so a predicate over
    stats some stripes lack raises AnalysisException instead of pruning
    them on nulls."""
    lacks = {c for c in ("key", "order") for r in rows
             if r["status"] == "ok" and r[f"p_{c}_col"] is None}
    names = [n for n in _STRIPE_FACTS.names if n.split("_")[0] not in lacks]
    return spark.createDataFrame(
        pa.Table.from_pylist(stripes, schema=_STRIPE_FACTS).select(names))


def encode_job(spark: SparkSession, df: DataFrame, out_dir: str,
               key_col: str = "conv_id", order_col: str | None = "turn_idx",
               sort_keys: list[str] | None = None,
               stripe_rows: int = DEFAULT_STRIPE_ROWS,
               n_buckets: int | None = None,
               index_rows: int | None = None,
               bloom_cols: list[str] | None = None) -> dict:
    """Encode ``df`` to ``out_dir``/{stripes,lineage} parquet. The key
    column gets a per-stripe bloom filter by default (the lineage's
    ``key_bloom``), enabling point-lookup stripe pruning via decode_job's
    ``key_equals``.

    One read of the log, then one kernel per encode task that sorts its
    partition, encodes and writes its stripes, then one log version (see
    commit): 2 Spark jobs, the shuffle and the facts collect.

    Idempotent resume (north_rule): stripe ids are a pure function of the
    input (bucket hash + order salt), so a rerun after a partial failure
    commits ONLY the stripes the lineage lacks, and the kernel drops the
    others before encoding them (a no-op rerun encodes nothing);
    re-encoding a stripe reproduces identical bytes (deterministic
    codecs), and lineage gains exactly one 'ok' row per stripe. Resuming
    with different n_buckets/stripe_rows/key_col, or a frame of another
    schema, raises (lineage records them). The returned stats cover the
    table's active stripes, from the lineage."""
    if n_buckets is None:
        n_buckets = _n_buckets(df, stripe_rows)
    # letter-led like compact_job's "c..." ids: Spark's partition inference
    # would read an all-hex run=<id> as a number (66e240854352 as a decimal
    # with a huge exponent, hanging any read of the table)
    run_id = "r" + uuid.uuid4().hex[:11]
    if bloom_cols is None:
        bloom_cols = [key_col]
    params = {"n_buckets": n_buckets, "stripe_rows": stripe_rows,
              "key_col": key_col, "order_col": order_col,
              "index_rows": index_rows, "bloom_cols": sorted(bloom_cols),
              "sort_keys": sort_keys}
    log = _log(out_dir)
    active = _active(commit(df, out_dir, run_id, params, log=log),
                     out_dir).values()
    return {"run_id": run_id, "resumed": bool(log[0]), "n_buckets": n_buckets,
            "n_stripes": len(active),
            **{k: sum(r[k] for r in active)
               for k in ("n_rows", "raw_bytes", "enc_bytes")}}


def decode_job(spark: SparkSession, out_dir: str,
               columns: list[str] | None = None,
               stripe_predicate=None,
               stride_range: tuple | None = None,
               key_equals=None, as_of=None) -> DataFrame:
    """Read + decode a persisted stripes table, planned from one driver
    read of its lineage (the reference's footer-first read,
    src/read/mod.rs:46-159): the active 'ok' rows are pruned on the
    driver, each surviving stripe's file comes from its ``path``, and one
    task per file decodes (see _decode_files). Planning runs no Spark job;
    files of commits that never reached the lineage stay invisible.

    ``stripe_predicate`` is a Column over the stripe facts (see
    _manifest_frame; e.g. key_min/key_max bounds) pruning whole stripes
    before any decode work — the Spark analog of the reference's (unused)
    stats-skipping model (src/proto.rs:66-111); ``key_equals`` prunes by
    the per-stripe key bloom filter. ``stride_range`` additionally skips
    row groups INSIDE surviving stripes (see roundtrip). Stats are
    strings: numeric predicates must use int-like key columns (stored
    numerically) or cast explicitly.

    The frame has the schema the table recorded (see commit), in its
    column order; ``columns`` selects top-level columns of it, in their
    order, nested ones whole.

    ``as_of`` (a run_id, or a timestamp) time-travels to that snapshot
    (see _active). A path holding no table raises ValueError."""
    rows = _log(out_dir)[0]
    schema = _schema(rows, out_dir)
    stripes = list(_active(rows, out_dir, as_of).values())
    if stripe_predicate is not None:
        kept = {r[0] for r in _manifest_frame(spark, stripes, rows)
                .filter(stripe_predicate).select("stripe_id").collect()}
        stripes = [r for r in stripes if r["stripe_id"] in kept]
    if key_equals is not None:
        from . import bloom
        hit = bloom.might_contain_many(
            [r["key_bloom"] or b"" for r in stripes], key_equals)
        stripes = [r for r, h in zip(stripes, hit) if h]
    return _decode_files(spark, out_dir, stripes, schema, columns,
                         stride_range)


# the name existing callers (perfbench/workloads.py) still use
decode_job_clustered = decode_job


# ---------------------------------------------------------------------------
# snapshots, time travel, compaction (Iceberg-style table maintenance)
# ---------------------------------------------------------------------------
# Stripe bytes and lineage rows are append-only; a stripe's VISIBILITY is
# a lineage question, never a byte question. Compaction therefore deletes
# nothing: it writes merged stripes under a fresh run and publishes them
# in ONE log version with 'compacted' tombstone rows for the replaced ids.
# Old snapshots stay readable via decode_job(as_of=...) until
# expire_snapshots frees their bytes.


def _table_fs(out_dir: str):
    """(filesystem, base_path) via pyarrow.fs for a table or an index, so
    driver- and task-side pyarrow I/O works on object stores too. ONLY
    scheme-less strings fall back to the local filesystem: a URI pyarrow
    can't resolve (s3a://, abfss://, dbfs://) raises instead — silently
    reading or writing a local directory named after the URI would show
    another table (an empty lineage: a fresh table) or miss an index's
    meta."""
    import pyarrow as pa
    from pyarrow import fs as pafs
    try:
        return pafs.FileSystem.from_uri(out_dir)
    except pa.ArrowInvalid:
        if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", out_dir):
            raise ValueError(
                f"path {out_dir!r} has a URI scheme pyarrow cannot resolve "
                "(map the scheme to a pyarrow-supported one, e.g. s3a:// -> "
                "s3://)")
        return pafs.LocalFileSystem(), os.path.abspath(out_dir)


def _utc(t) -> datetime.datetime:
    """A timestamp as an aware UTC datetime; naive ones are local time."""
    import pandas as pd
    return pd.Timestamp(t).to_pydatetime().astimezone(datetime.timezone.utc)


def _active(rows: list[dict], out_dir: str, as_of=None) -> dict[str, dict]:
    """stripe id -> its 'ok' lineage row, for every stripe visible now:
    published and not tombstoned. With ``as_of`` — a run_id (inclusive of
    that run's commit) or a timestamp — for the table as it stood then;
    raises ValueError when that snapshot needs a run whose bytes
    expire_snapshots freed. A run fully tombstoned by the cutoff
    contributes nothing, so post-compaction snapshots stay readable after
    expiry."""
    if as_of is not None:
        if isinstance(as_of, str):
            times = [r["committed_at"] for r in rows
                     if r["run_id"] == as_of and r["status"] != "expired"]
            if not times:
                raise ValueError(f"as_of run {as_of!r} not in lineage "
                                 f"of {out_dir}")
            cut = max(times)
        else:
            cut = _utc(as_of)
        expired = {r["run_id"] for r in rows if r["status"] == "expired"}
        rows = [r for r in rows if r["committed_at"] <= cut]
    dead = {r["stripe_id"] for r in rows if r["status"] == "compacted"}
    live = [r for r in rows if r["status"] == "ok"
            and r["stripe_id"] not in dead]
    if as_of is not None:
        hit = next((r["run_id"] for r in live if r["run_id"] in expired),
                   None)
        if hit is not None:
            raise ValueError(
                f"as_of={as_of!r} snapshot of {out_dir} needs expired run "
                f"{hit!r} — its bytes were freed by expire_snapshots; that "
                "window is gone")
    return {r["stripe_id"]: r for r in live}


def active_stripe_ids(spark: SparkSession, out_dir: str,
                      as_of=None) -> set[str]:
    """Ids of the stripes visible in the current snapshot, or ``as_of``
    (see _active); read on the driver, no Spark job."""
    return set(_active(_log(out_dir)[0], out_dir, as_of))


def snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-run commit history (the Iceberg snapshot-list analog): one row
    per (run_id, status) with its commit time and stripe/row/byte totals,
    oldest first. 'ok' rows are publishes, 'compacted' rows are the same
    run's tombstones, 'expired' rows the stripes whose bytes
    expire_snapshots freed. Built from the driver's read of the lineage
    (a local relation: no Spark job)."""
    import pandas as pd
    log = pd.DataFrame(_log(out_dir)[0], columns=LINEAGE_SCHEMA.names)
    snaps = (log.groupby(["run_id", "status"], as_index=False)
             .agg(committed_at=("committed_at", "min"),
                  n_stripes=("stripe_id", "size"),
                  n_rows=("n_rows", "sum"), enc_bytes=("enc_bytes", "sum"))
             .sort_values(["committed_at", "run_id", "status"]))
    return spark.createDataFrame(
        snaps, "run_id string, status string, committed_at timestamp, "
               "n_stripes long, n_rows long, enc_bytes long")


def compact_job(spark: SparkSession, out_dir: str) -> dict:
    """Merge fragmented stripes — the streaming small-file problem: every
    micro-batch appends its own ``b<batch>-<bucket>-<salt>`` stripe, so a
    long-running stream leaves many under-filled stripes per (bucket, salt)
    slot where a batch encode would have written one.

    Any (bucket, salt) slot with >=2 ACTIVE stripes is rewritten: its rows
    decode, re-encode at the table's recorded layout params (same bucket
    hash, same order salt — the merged layout is exactly what a batch
    encode of the union would produce), land under a fresh ``c...`` run
    prefix (ids can never collide with live ids), and ONE log version
    publishes the new stripes and tombstones the old.

    The slot scan, victims and tombstones come from the driver's read of
    the lineage; nothing to compact runs no Spark job. A compaction that
    dies before its log version leaves only invisible orphan bytes, and
    rerunning compact_job (fresh run id) completes the work. One that
    loses its log version to a concurrent compaction of the same victims
    raises RuntimeError. Old snapshots remain readable:
    decode_job(as_of=<pre-compaction run>) sees the original stripes
    (tombstones commit later than the cutoff)."""
    log = _log(out_dir)
    schema = _schema(log[0], out_dir)  # raises when no table is there
    params = _layout_params(log[0], out_dir)
    active = _active(log[0], out_dir)
    slots: dict[tuple, list[str]] = {}
    for sid, r in sorted(active.items()):
        # the salt ends the id, sign included ("...-00000001--00001")
        salt = re.search(r"-(-?\d+)$", sid)
        slots.setdefault((r["bucket"], salt and int(salt.group(1))),
                         []).append(sid)
    victims = [sid for sids in slots.values() if len(sids) >= 2
               for sid in sids]
    if not victims:
        return {"run_id": None, "compacted_stripes": 0, "new_stripes": 0}
    run_id = "c" + uuid.uuid4().hex[:11]
    df = _decode_files(spark, out_dir, [active[s] for s in victims], schema)
    after = commit(df, out_dir, run_id, params, log=log,
                   stripe_prefix=f"{run_id}-",
                   tombstones=_lineage_rows([active[s] for s in victims],
                                            "compacted", run_id, params))
    return {"run_id": run_id, "compacted_stripes": len(victims),
            "new_stripes": sum(r["run_id"] == run_id and r["status"] == "ok"
                               for r in after)}


def expire_snapshots(spark: SparkSession, out_dir: str,
                     older_than=None) -> dict:
    """Free the data bytes of fully-superseded runs (Iceberg
    expire_snapshots): a run whose every published stripe has been
    tombstoned by compaction contributes nothing to the CURRENT snapshot —
    its ``stripes/run=<id>`` directory can be deleted. ``older_than``
    (timestamp) keeps newer runs' bytes for time travel; None expires all
    expirable runs.

    Irreversible for time travel: snapshots that included an expired run
    can no longer be reconstructed, and decode_job(as_of=...) into that
    window raises instead of silently returning partial data. The
    'expired' lineage rows are committed BEFORE any bytes are deleted, so
    a crash mid-delete still errs on the loud side. No lineage row is
    ever deleted — history and stats stay queryable."""
    rows, version = _log(out_dir)
    dead = {r["stripe_id"] for r in rows if r["status"] == "compacted"}
    ok = sorted((r for r in rows if r["status"] == "ok"),
                key=lambda r: r["committed_at"])
    live = {r["run_id"] for r in ok if r["stripe_id"] not in dead}
    done = {r["run_id"] for r in rows if r["status"] == "expired"}
    times = {r["run_id"]: r["committed_at"] for r in ok}  # latest wins
    cut = None if older_than is None else _utc(older_than)
    runs = sorted(rid for rid, t in times.items()
                  if rid not in live and rid not in done
                  and (cut is None or t <= cut))
    if not runs:
        return {"expired_runs": [], "bytes_freed_approx": 0}
    stripes = {(r["run_id"], r["stripe_id"]): r for r in ok
               if r["run_id"] in runs}
    freed = sum({r["stripe_id"]: r["enc_bytes"] or 0
                 for r in stripes.values()}.values())
    # the log version FIRST: a crash before the deletes leaves runs that
    # time travel refuses (loud) rather than half-reads (silent)
    _publish(out_dir, [dict(r, status="expired", **dict.fromkeys(_OK_ONLY))
                       for r in stripes.values()], (rows, version))
    filesystem, base = _table_fs(out_dir)
    for rid in runs:
        try:
            filesystem.delete_dir(f"{base}/stripes/run={rid}")
        except FileNotFoundError:
            pass
    return {"expired_runs": runs, "bytes_freed_approx": int(freed)}
