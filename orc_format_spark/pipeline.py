"""Spark jobs: encode a DataFrame into the stripes table, decode it back,
and the persistent form with manifest + lineage/checkpoint + resume.

Execution model (SURVEY.md §3.4):

    ENCODE: df
      -> bucket = pmod(xxhash64(key), n_buckets), salt = order // salt_rows
         (salting defuses long-conversation skew: one conversation can span
         several stripes; decode's global orderBy reassembles it)
      -> repartition by (bucket, salt) + sortWithinPartitions [one shuffle]
      -> mapInArrow(encode_stripe_arrow per (bucket, salt) run)
      -> stripes rows (one per stripe-column)  [+ manifest agg, lineage rows]
    DECODE (decode_job, a persisted table): manifest
      -> prune stripes (active set, min/max predicate, key bloom)
      -> collect (stripe_id, path) on the driver; one file per stripe
      -> local (file, keep-list) rows, one task per file         [no shuffle]
      -> mapInArrow(pyarrow read with col_name/stripe_id pushed to the row
         groups; decode_stripe_arrow per stripe)
      -> orderBy(sort keys) at comparison time only
    DECODE (decode_dataframe, stripe rows that are not a table)
      -> filter col_name, repartition(stripe_id) + sort          [one shuffle]
      -> mapInArrow(decode_stripe_arrow per stripe)
    ROUNDTRIP: ENCODE then the DECODE kernel in the same stage — the encode
      output is already stripe-clustered, so no second shuffle

The stripes-as-rows layout is the Spark analog of the reference's
stripe/stream container (src/read/mod.rs:117-159): locating one column's
streams becomes a Catalyst filter on ``col_name`` instead of offset math,
and stripe-granular parallelism falls out of row partitioning.
"""

from __future__ import annotations

import contextlib
import uuid

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import stripe as stripe_mod

STRIPE_SCHEMA = T.StructType([
    T.StructField("stripe_id", T.StringType()),
    T.StructField("bucket", T.LongType()),
    T.StructField("n_rows", T.LongType()),
    T.StructField("col_name", T.StringType()),
    T.StructField("col_kind", T.StringType()),
    T.StructField("codec", T.StringType()),
    T.StructField("compression", T.StringType()),
    T.StructField("present", T.BinaryType()),
    T.StructField("data", T.BinaryType()),
    T.StructField("length", T.BinaryType()),
    T.StructField("dict_data", T.BinaryType()),
    T.StructField("extra", T.BinaryType()),
    T.StructField("n_nulls", T.LongType()),
    T.StructField("raw_bytes", T.LongType()),
    T.StructField("enc_bytes", T.LongType()),
    T.StructField("min_val", T.StringType()),
    T.StructField("max_val", T.StringType()),
    T.StructField("ndv", T.LongType()),
    T.StructField("checksum", T.StringType()),
    T.StructField("bloom", T.BinaryType()),
])

DEFAULT_STRIPE_ROWS = 65_536
# stripes held in memory per encode task (bounds task memory ≈ this many
# stripes of raw input)
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
    """Task count for the CPU-bound Arrow-UDF stages. Pinned explicitly
    because AQE's size-based coalescing targets ~64MB partitions and would
    serialize CPU-heavy (but byte-light) codec work onto a handful of tasks.
    Scales with both cluster parallelism and data volume
    (≤STRIPES_PER_PARTITION stripes per task bounds memory).

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


def column_kinds(df: DataFrame) -> dict[str, str]:
    """Column -> engine kind from the Spark schema."""
    return {f.name: stripe_mod.spark_kind(f.dataType.simpleString())
            for f in df.schema.fields}


# struct-leaf name separator: a middle dot, NOT ".", because pyspark's
# mapInArrow resolves columns via df[name] and a "." would re-parse as
# struct field access on the already-flattened frame
_STRUCT_SEP = "\u00b7"


_MAP_KEYS = "__map_keys__"
_MAP_VALS = "__map_vals__"
_ELEMS = "__elems__"  # per-element present leaf of an array<struct> column
_ITEM = "__item__"    # anonymous segment for an array level directly
                      # inside another array (array<array<struct>> etc.)


def _compose_getter(get, name: str):
    """element-lambda composition for F.transform; NOT default-arg lambdas:
    any 2-param lambda (defaults included) is taken as transform's
    (value, index) form."""
    return lambda x: get(x).getField(name)


def _present_getter(get):
    return lambda x: get(x).isNotNull()


def _fn_getter(get, fn):
    return lambda x: fn(get(x))


def _transform_getter(get, inner):
    """x -> transform(get(x), inner): wraps an element-level getter one
    array level up (parallel leaf arrays, the ORC list-of-struct model)."""
    return lambda x: F.transform(get(x), inner)


def _ident(x):
    return x


def _nonnull(x):
    return x.isNotNull()


def _needs_decompose(dtype) -> bool:
    """True when an array's ELEMENT type contains a struct/map anywhere —
    such arrays flatten to parallel leaves; pure scalar chains stay one
    leaf (recursive ``list:`` kinds, cheaper)."""
    if isinstance(dtype, (T.StructType, T.MapType)):
        return True
    if isinstance(dtype, T.ArrayType):
        return _needs_decompose(dtype.elementType)
    return False


def _leaf_exprs(rel: str, get, dtype) -> list:
    """(leaf name, Column->Column getter) pairs for a value of ``dtype``
    reached by ``get`` — UNIFORM recursion over struct / map /
    array<struct> / array<map> at ANY nesting depth:

    - struct: one hidden ``__present__`` boolean leaf per level (ORC gives
      struct columns exactly one stream — Present) + one leaf per field.
    - map: parallel keys/values list leaves (ORC's map layout), recursing
      so map<k, struct<...>> rides the array<struct> machinery.
    - array<struct>: an element-present ``__elems__`` leaf + one parallel
      leaf ARRAY per element leaf, each getter wrapped in F.transform —
      composition makes array<struct<v: array<struct<...>>>> work at any
      depth (leaves come out as array<array<...>> — recursive list: kinds).
    - array<map>: an ``__elems__`` marker leaf (disambiguates the
      schema-free re-nest from a plain map) + per-element keys/values
      leaves.
    Only a struct/map under two CONSECUTIVE array levels raises."""
    if isinstance(dtype, T.StructType):
        out = [(f"{rel}{_STRUCT_SEP}__present__", _present_getter(get))]
        for sub in dtype.fields:
            out.extend(_leaf_exprs(f"{rel}{_STRUCT_SEP}{sub.name}",
                                   _compose_getter(get, sub.name),
                                   sub.dataType))
        return out
    if isinstance(dtype, T.MapType):
        return (_leaf_exprs(f"{rel}{_STRUCT_SEP}{_MAP_KEYS}",
                            _fn_getter(get, F.map_keys),
                            T.ArrayType(dtype.keyType, False))
                + _leaf_exprs(f"{rel}{_STRUCT_SEP}{_MAP_VALS}",
                              _fn_getter(get, F.map_values),
                              T.ArrayType(dtype.valueType,
                                          dtype.valueContainsNull)))
    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        if isinstance(et, T.StructType):
            out = [(f"{rel}{_STRUCT_SEP}{_ELEMS}",
                    _transform_getter(get, _nonnull))]
            for sub in et.fields:
                for nm, fn in _leaf_exprs(f"{rel}{_STRUCT_SEP}{sub.name}",
                                          _compose_getter(_ident, sub.name),
                                          sub.dataType):
                    out.append((nm, _transform_getter(get, fn)))
            return out
        if isinstance(et, T.MapType):
            # element-context recursion (same shape as array<struct>): the
            # per-element keys/values arrays are fields of the ELEMENT,
            # each leaf wrapped once more by the enclosing transform
            out = [(f"{rel}{_STRUCT_SEP}{_ELEMS}",
                    _transform_getter(get, _nonnull))]
            for nm, fn in (_leaf_exprs(f"{rel}{_STRUCT_SEP}{_MAP_KEYS}",
                                       _fn_getter(_ident, F.map_keys),
                                       T.ArrayType(et.keyType, False))
                           + _leaf_exprs(f"{rel}{_STRUCT_SEP}{_MAP_VALS}",
                                         _fn_getter(_ident, F.map_values),
                                         T.ArrayType(et.valueType,
                                                     et.valueContainsNull))):
                out.append((nm, _transform_getter(get, fn)))
            return out
        if isinstance(et, T.ArrayType) and _needs_decompose(et):
            # array directly inside an array, with structs/maps below:
            # an anonymous __item__ segment names the inner level, the
            # __elems__ leaf preserves null inner arrays
            out = [(f"{rel}{_STRUCT_SEP}{_ELEMS}",
                    _transform_getter(get, _nonnull))]
            for nm, fn in _leaf_exprs(f"{rel}{_STRUCT_SEP}{_ITEM}",
                                      _ident, et):
                out.append((nm, _transform_getter(get, fn)))
            return out
    return [(rel, get)]


def _flatten_exprs(prefix: str, col, dtype) -> list:
    """(name, Column) leaf pairs for one top-level field."""
    return [(name, fn(col)) for name, fn in _leaf_exprs(prefix, _ident,
                                                        dtype)]


_RESERVED_SEGMENTS = frozenset(
    {"__present__", _ELEMS, _ITEM, _MAP_KEYS, _MAP_VALS})


def _check_field_names(prefix: str, dtype) -> None:
    """Loudly reject nested field names that would collide with the
    flatten's reserved segments or its ``·`` separator — a collision
    would silently corrupt the leaf mapping / schema-free re-nest."""
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


def _flatten_struct_cols(df: DataFrame) -> DataFrame:
    """Struct/map columns -> leaf columns, the ORC model: structs own no
    data streams, only their leaves do (the reference's Kind::Struct,
    src/proto.rs:195, is subtype plumbing); maps (Kind::Map,
    src/proto.rs:193) become parallel keys/values list leaves, exactly
    ORC's map layout. Arbitrary struct nesting depth; leaf columns
    round-trip through the codecs like any other column and decode
    reassembles from the schema."""
    def needs_flatten(dt) -> bool:
        return (isinstance(dt, (T.StructType, T.MapType))
                or (isinstance(dt, T.ArrayType) and _needs_decompose(dt)))

    if not any(needs_flatten(f.dataType) for f in df.schema.fields):
        return df
    cols = []
    for f in df.schema.fields:
        if needs_flatten(f.dataType):
            _check_field_names(f.name, f.dataType)
        for name, expr in _flatten_exprs(f.name, F.col(f.name), f.dataType):
            cols.append(expr.alias(name))
    return df.select(cols)


def _leaf_fields(prefix: str, dtype, wrap: int = 0) -> list[T.StructField]:
    """Flat-leaf StructFields mirroring :func:`_leaf_exprs`: ``wrap`` is
    the number of enclosing array levels — every leaf type comes out
    wrapped in that many ArrayTypes (the parallel leaf-array model)."""
    def W(t):
        for _ in range(wrap):
            t = T.ArrayType(t)
        return t

    if isinstance(dtype, T.StructType):
        out = [T.StructField(f"{prefix}{_STRUCT_SEP}__present__",
                             W(T.BooleanType()))]
        for sub in dtype.fields:
            out.extend(_leaf_fields(f"{prefix}{_STRUCT_SEP}{sub.name}",
                                    sub.dataType, wrap))
        return out
    if isinstance(dtype, T.MapType):
        return (_leaf_fields(f"{prefix}{_STRUCT_SEP}{_MAP_KEYS}",
                             T.ArrayType(dtype.keyType, False), wrap)
                + _leaf_fields(f"{prefix}{_STRUCT_SEP}{_MAP_VALS}",
                               T.ArrayType(dtype.valueType,
                                           dtype.valueContainsNull), wrap))
    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        if isinstance(et, T.StructType):
            out = [T.StructField(f"{prefix}{_STRUCT_SEP}{_ELEMS}",
                                 W(T.ArrayType(T.BooleanType())))]
            for sub in et.fields:
                out.extend(_leaf_fields(f"{prefix}{_STRUCT_SEP}{sub.name}",
                                        sub.dataType, wrap + 1))
            return out
        if isinstance(et, T.MapType):
            out = [T.StructField(f"{prefix}{_STRUCT_SEP}{_ELEMS}",
                                 W(T.ArrayType(T.BooleanType())))]
            out.extend(_leaf_fields(
                f"{prefix}{_STRUCT_SEP}{_MAP_KEYS}",
                T.ArrayType(et.keyType, False), wrap + 1))
            out.extend(_leaf_fields(
                f"{prefix}{_STRUCT_SEP}{_MAP_VALS}",
                T.ArrayType(et.valueType,
                            et.valueContainsNull), wrap + 1))
            return out
        if isinstance(et, T.ArrayType) and _needs_decompose(et):
            out = [T.StructField(f"{prefix}{_STRUCT_SEP}{_ELEMS}",
                                 W(T.ArrayType(T.BooleanType())))]
            out.extend(_leaf_fields(f"{prefix}{_STRUCT_SEP}{_ITEM}",
                                    et, wrap + 1))
            return out
    return [T.StructField(prefix, W(dtype))]


def _flat_fields(prefix: str, dtype) -> list[T.StructField]:
    return _leaf_fields(prefix, dtype, 0)


def _flat_schema(schema: T.StructType) -> T.StructType:
    fields = []
    for f in schema.fields:
        fields.extend(_flat_fields(f.name, f.dataType))
    return T.StructType(fields)


def _nest_schema(flat: T.StructType) -> T.StructType:
    """Inverse of _flat_schema: rebuild nested fields from ``a·b·c`` names
    (used when decoding a persisted nested encode without a caller schema).
    Field order inside each struct follows the flat column order."""
    def build(items: list[tuple[list[str], T.DataType]],
              depth: int = 0) -> T.DataType:
        # items: (remaining name segments, leaf type), order-preserving;
        # depth = number of enclosing array levels — every leaf type is
        # wrapped in that many ArrayTypes (unwrap at the leaf). An
        # ``__elems__`` head marks one more array level (array<struct> or
        # array<map>).
        if len(items) == 1 and not items[0][0]:
            t = items[0][1]  # plain leaf
            for _ in range(depth):
                t = t.elementType
            return t
        heads = [seg[0] for seg, _ in items]
        has_elems = _ELEMS in heads
        d = depth + (1 if has_elems else 0)
        if _MAP_KEYS in heads:
            ks = [(seg[1:], t) for seg, t in items if seg[0] == _MAP_KEYS]
            vs = [(seg[1:], t) for seg, t in items if seg[0] == _MAP_VALS]
            mt = T.MapType(build(ks, d).elementType,
                           build(vs, d).elementType)
            return T.ArrayType(mt) if has_elems else mt
        # struct (array<struct> when an element-present leaf is here):
        # group children by head segment, skipping the present leaves
        order, groups = [], {}
        for seg, t in items:
            h = seg[0]
            if h in ("__present__", _ELEMS):
                continue
            if h not in groups:
                order.append(h)
                groups[h] = []
            groups[h].append((seg[1:], t))
        if has_elems and order == [_ITEM]:
            # anonymous inner array level (array<array<...>> with
            # structs/maps below)
            return T.ArrayType(build(groups[_ITEM], d))
        st = T.StructType([T.StructField(h, build(groups[h], d))
                           for h in order])
        return T.ArrayType(st) if has_elems else st

    order, groups = [], {}
    for f in flat.fields:
        segs = f.name.split(_STRUCT_SEP)
        h = segs[0]
        if h not in groups:
            order.append(h)
            groups[h] = []
        groups[h].append((segs[1:], f.dataType))
    return T.StructType([T.StructField(h, build(groups[h])) for h in order])


def _mk_value(acc, rel: str, dtype):
    """Rebuild the value of ``dtype`` at leaf-path ``rel`` from flat leaf
    columns, via ``acc``: leaf name -> Column AT THE CURRENT NESTING LEVEL
    (F.col at the top; the arrays_zip element inside each transform).
    Exact inverse of :func:`_leaf_exprs`, same uniform recursion."""
    if isinstance(dtype, T.StructType):
        parts = [_mk_value(acc, f"{rel}{_STRUCT_SEP}{s.name}", s.dataType)
                 .alias(s.name) for s in dtype.fields]
        return F.when(acc(f"{rel}{_STRUCT_SEP}__present__"),
                      F.struct(*parts))
    if isinstance(dtype, T.MapType):
        return F.map_from_arrays(
            _mk_value(acc, f"{rel}{_STRUCT_SEP}{_MAP_KEYS}",
                      T.ArrayType(dtype.keyType, False)),
            _mk_value(acc, f"{rel}{_STRUCT_SEP}{_MAP_VALS}",
                      T.ArrayType(dtype.valueType,
                                  dtype.valueContainsNull)))
    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        elems_name = f"{rel}{_STRUCT_SEP}{_ELEMS}"
        if isinstance(et, T.StructType):
            names = [f.name for sub in et.fields
                     for f in _leaf_fields(f"{rel}{_STRUCT_SEP}{sub.name}",
                                           sub.dataType, 0)]
            zipped = F.arrays_zip(
                acc(elems_name).alias(elems_name),
                *[acc(nm).alias(nm) for nm in names])

            def rebuild_elem(e):
                parts = [_mk_value(lambda nm: e[nm],
                                   f"{rel}{_STRUCT_SEP}{s.name}", s.dataType)
                         .alias(s.name) for s in et.fields]
                return F.when(e[elems_name], F.struct(*parts))

            return F.transform(zipped, rebuild_elem)
        if isinstance(et, T.MapType):
            # element-context: zip ALL leaves under the keys/vals subtrees
            # (they decompose further when key/value types contain
            # structs/maps) and rebuild each per-element map inside
            kname = f"{rel}{_STRUCT_SEP}{_MAP_KEYS}"
            vname = f"{rel}{_STRUCT_SEP}{_MAP_VALS}"
            kt = T.ArrayType(et.keyType, False)
            vt = T.ArrayType(et.valueType, et.valueContainsNull)
            names = [f.name for f in (_leaf_fields(kname, kt, 0)
                                      + _leaf_fields(vname, vt, 0))]
            zipped = F.arrays_zip(
                acc(elems_name).alias(elems_name),
                *[acc(nm).alias(nm) for nm in names])
            return F.transform(
                zipped, lambda e: F.when(
                    e[elems_name], F.map_from_arrays(
                        _mk_value(lambda nm: e[nm], kname, kt),
                        _mk_value(lambda nm: e[nm], vname, vt))))
        if isinstance(et, T.ArrayType) and _needs_decompose(et):
            iname = f"{rel}{_STRUCT_SEP}{_ITEM}"
            names = [f.name for f in _leaf_fields(iname, et, 0)]
            zipped = F.arrays_zip(
                acc(elems_name).alias(elems_name),
                *[acc(nm).alias(nm) for nm in names])
            return F.transform(
                zipped, lambda e: F.when(
                    e[elems_name],
                    _mk_value(lambda nm: e[nm], iname, et)))
    return acc(rel)


def _rebuild_expr(prefix: str, dtype):
    return _mk_value(lambda nm: F.col(f"`{nm}`"), prefix, dtype)


def _reassemble_structs(df: DataFrame, schema: T.StructType) -> DataFrame:
    return df.select([_rebuild_expr(f.name, f.dataType).alias(f.name)
                      for f in schema.fields])


def _n_buckets(df: DataFrame, stripe_rows: int,
               n_rows: int | None = None) -> int:
    """One hash bucket per ``stripe_rows`` input rows; the row count comes
    from parquet footers when ``df`` is file-backed, else from one count
    job."""
    if n_rows is None:
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
    the whole partition call ``mapInArrow`` directly: ``encode_partition``,
    ``decode_partition``, ``decode_files``, the ORC ``decode`` of
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


def encode_dataframe(df: DataFrame, key_col: str, order_col: str | None = None,
                     sort_keys: list[str] | None = None,
                     stripe_rows: int = DEFAULT_STRIPE_ROWS,
                     n_buckets: int | None = None,
                     n_rows: int | None = None,
                     force_codecs: dict[str, str] | None = None,
                     stripe_prefix: str = "",
                     index_rows: int | None = None,
                     bloom_cols: list[str] | None = None) -> DataFrame:
    """Encode ``df`` into stripe-column rows (lazy; one shuffle).

    ``key_col`` groups related rows into the same stripe (conv_id);
    ``order_col`` both orders rows within the stripe and salts oversized
    groups (turn_idx // stripe_rows) so a single huge conversation cannot
    blow past the stripe-size cap (skew handling, north_rule).
    ``index_rows`` adds a row-group index: every column is encoded in
    strides of that many rows with per-stride stats, enabling sub-stripe
    skipping at decode (see decode_dataframe's ``stride_range``).
    ``bloom_cols`` get per-stripe distinct-value bloom filters (point-lookup
    stripe pruning on hash-bucketed keys where min/max never prunes).
    Struct columns are flattened to their leaves (see _flatten_struct_cols).
    """
    df = _flatten_struct_cols(df)
    kinds = column_kinds(df)
    sort_keys = sort_keys or [k for k in (key_col, order_col) if k]
    if n_buckets is None:
        n_buckets = _n_buckets(df, stripe_rows, n_rows)

    salt = (F.floor(F.col(order_col) / F.lit(stripe_rows)).cast("long")
            if order_col else F.lit(0))
    keyed = df.withColumn("__bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)))
    keyed = keyed.withColumn("__salt", salt)
    # ONE explicit shuffle (see _work_partitions for why the count is pinned)
    # + a JVM-side Tungsten sort; stripes are then contiguous row ranges and
    # the Arrow UDF slices them zero-copy. No pandas anywhere: strings go
    # Arrow buffers -> numpy codec kernels directly (mapInArrow).
    spark = df.sparkSession
    p = _work_partitions(spark, n_buckets)
    if n_buckets <= _BALANCE_MAX_GROUPS:
        # EXACT round-robin group placement: group (bucket, salt) goes to
        # partition (bucket + salt) mod p via a probe value chosen so
        # Spark's hash partitioner lands it there (see _partition_probes).
        # Deterministic (same placement every run/retry), stripe contents
        # unchanged — only which task encodes which stripe moves.
        probes = _probe_cache.setdefault(p, _partition_probes(p))
        probe_col = F.element_at(
            F.array(*[F.lit(m) for m in probes]),
            (F.pmod(F.col("__bucket") + F.col("__salt"), F.lit(p)) + 1)
            .cast("int")).cast("long")
        keyed = (keyed.withColumn("__probe", probe_col)
                 .repartition(p, "__probe")
                 .sortWithinPartitions("__bucket", "__salt", *sort_keys))
    else:
        keyed = (keyed.repartition(p, "__bucket", "__salt")
                 .sortWithinPartitions("__bucket", "__salt", *sort_keys))
    data_cols = list(kinds)

    def encode_partition(batches):
        import pyarrow as pa
        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        if tbl.num_rows == 0:
            return
        b = tbl.column("__bucket").to_numpy()
        s = tbl.column("__salt").to_numpy()
        import numpy as np
        change = np.flatnonzero((np.diff(b) != 0) | (np.diff(s) != 0)) + 1
        bounds = np.concatenate(([0], change, [len(b)]))
        data = tbl.select(data_cols)
        rows = []
        for i in range(len(bounds) - 1):
            lo, hi = int(bounds[i]), int(bounds[i + 1])
            sid = f"{stripe_prefix}{int(b[lo]):08d}-{int(s[lo]):06d}"
            rows.extend(stripe_mod.encode_stripe_arrow(
                data.slice(lo, hi - lo), kinds, sid, int(b[lo]),
                force_codecs=force_codecs, index_rows=index_rows,
                bloom_cols=set(bloom_cols or ())))
        yield stripe_mod.stripe_rows_to_batch(rows)

    # stripe-clustered by construction: each (bucket, salt) group lands
    # whole in one partition and its column rows are emitted contiguously
    # (what lets roundtrip decode it without a second shuffle)
    return keyed.mapInArrow(encode_partition, STRIPE_SCHEMA)


def _schema_from_kinds(by_name: dict[str, str],
                       columns: list[str] | None) -> tuple[T.StructType, list[str]]:
    kind_to_spark = {
        "int8": T.ByteType(), "int16": T.ShortType(), "int32": T.IntegerType(),
        "int64": T.LongType(), "float32": T.FloatType(), "float64": T.DoubleType(),
        "bool": T.BooleanType(), "string": T.StringType(),
        "timestamp": T.TimestampType(), "date": T.DateType(),
        "binary": T.BinaryType(),
        "array_float32": T.ArrayType(T.FloatType()),
        "array_float64": T.ArrayType(T.DoubleType()),
        "array_int64": T.ArrayType(T.LongType()),
        "array_string": T.ArrayType(T.StringType()),
        "array_bool": T.ArrayType(T.BooleanType()),
        "array_ts": T.ArrayType(T.TimestampType()),
        "array_date": T.ArrayType(T.DateType()),
    }

    def to_spark(kind: str) -> T.DataType:
        if kind in kind_to_spark:
            return kind_to_spark[kind]
        if kind.startswith("decimal_"):
            _, p, s = kind.split("_")
            return T.DecimalType(int(p), int(s))
        if kind.startswith("list:"):
            return T.ArrayType(to_spark(kind[5:]))
        raise ValueError(kind)

    cols = []
    for c in (columns or sorted(by_name)):
        if c in by_name:
            cols.append(c)
            continue
        # a nested column requested by its TOP-LEVEL name ("tc") expands to
        # its persisted leaves ("tc·__elems__", "tc·fn·name", ...) so column
        # pruning composes with the flattened layout
        pre = c + _STRUCT_SEP
        leaves = [n for n in sorted(by_name) if n.startswith(pre)]
        if not leaves:
            raise KeyError(f"column {c!r} not in persisted kinds")
        cols.extend(leaves)
    fields = [T.StructField(c, to_spark(by_name[c])) for c in cols]
    return T.StructType(fields), cols


def infer_schema(stripes: DataFrame, columns: list[str] | None = None) -> tuple[T.StructType, list[str]]:
    """Recover the decoded Spark schema from the stripes metadata (tiny job,
    but O(stripe rows) — prefer infer_schema_from_manifest on persisted
    tables, which reads ONE manifest row)."""
    pairs = (stripes.select("col_name", "col_kind").distinct().collect())
    return _schema_from_kinds(
        {r["col_name"]: r["col_kind"] for r in pairs}, columns)


_NO_PATHS = ("the manifest of {} lacks stripe file paths: the table was "
             "written before manifests recorded them — re-encode it")


def _open_manifest(spark: SparkSession, out_dir: str
                   ) -> tuple[DataFrame, dict[str, str]]:
    """(manifest, column kinds) of a persisted table from one pyarrow
    listing on the driver: the manifest is every appended row (crash
    replays included) read with pyarrow's schema, so Spark runs no
    schema-inference job; the kinds come from ONE manifest row's ``kinds``
    string (vs infer_schema's distinct over every stripe-column row).
    Raises ValueError for a manifest without the ``path`` column."""
    import pyarrow.dataset as pads
    from pyspark.sql.pandas.types import from_arrow_schema
    filesystem, base = _table_fs(out_dir)
    dset = pads.dataset(f"{base}/manifest", filesystem=filesystem,
                        format="parquet")
    if "path" not in dset.schema.names:
        raise ValueError(_NO_PATHS.format(out_dir))
    head = dset.head(1, columns=["kinds"]).column(0).to_pylist()
    # FIRST colon: recursive kinds ("list:array_int64") contain colons
    # themselves; column names never do
    kinds = dict(p.split(":", 1) for p in head[0].split(",")) if head else {}
    manifest = (spark.read.schema(from_arrow_schema(dset.schema))
                .parquet(f"{out_dir}/manifest"))
    return manifest, kinds


def infer_schema_from_manifest(spark: SparkSession, out_dir: str,
                               columns: list[str] | None = None
                               ) -> tuple[T.StructType, list[str]]:
    """Decoded schema of a persisted table, from its manifest's kinds (see
    _open_manifest)."""
    return _schema_from_kinds(_open_manifest(spark, out_dir)[1], columns)


def _arrow_schema(schema: T.StructType):
    """Arrow schema of decoded batches; Spark timestamps map to tz=UTC
    (the decoder's int64s are UTC instants)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(schema)


def decode_dataframe(stripes: DataFrame, columns: list[str] | None = None,
                     schema: T.StructType | None = None,
                     stride_range: tuple | None = None) -> DataFrame:
    """Decode stripe-column rows back to the original row layout (lazy).

    ``columns`` prunes decode to the named columns — the filter on
    ``col_name`` is pushed down to the stripes scan by Catalyst, the analog
    of the reference's read-one-column projection pushdown
    (src/read/mod.rs:117-159).

    ``stride_range`` = (col_name, lo, hi): on row-group-indexed stripes,
    decode ONLY the strides whose per-stride [min,max] for that column
    overlaps [lo, hi] (sub-stripe skipping). The caller applies the exact
    residual predicate; strides are a superset of matching rows.

    For stripe frames that are not a persisted table (decode_job reads
    those by file, with no shuffle). The stripe rows are always
    re-clustered on ``stripe_id`` (one shuffle); :func:`roundtrip` decodes
    an in-memory encode without it. Same
    AQE-coalescing consideration as the encode side: stripe rows are
    byte-light but expand ~10x on decode, so a parallel task count is
    pinned. cores*1, not cores*4: same boundary-cost argument as
    _work_partitions (the decode kernel is ~15x cheaper than encode, so the
    Arrow boundary, see _tasks, dominates even harder here).
    """
    if schema is None:
        schema, columns = infer_schema(stripes, columns)
    cores = stripes.sparkSession.sparkContext.defaultParallelism
    clustered = (stripes.repartition(cores, "stripe_id")
                 .sortWithinPartitions("stripe_id"))
    return _decode_clustered(clustered, schema, columns, stride_range)


def roundtrip(df: DataFrame, key_col: str, order_col: str | None = None, *,
              columns: list[str] | None = None,
              stride_range: tuple | None = None,
              **encode_kwargs) -> DataFrame:
    """decode(encode(df)) in memory, as ONE stage: scan -> exchange -> sort
    -> encode kernel -> col_name filter -> decode kernel. The encode output
    is already stripe-contiguous per partition, so the encoded bytes are
    never shuffled a second time. The decoded schema is ``df.schema``
    (restricted to ``columns``); ``encode_kwargs`` go to
    :func:`encode_dataframe`, ``stride_range`` as in
    :func:`decode_dataframe`."""
    schema = (T.StructType([df.schema[c] for c in columns]) if columns
              else df.schema)
    stripes = encode_dataframe(df, key_col, order_col, **encode_kwargs)
    return _decode_clustered(stripes, schema, None, stride_range)


def _decode_clustered(stripes: DataFrame, schema: T.StructType,
                      columns: list[str] | None,
                      stride_range: tuple | None) -> DataFrame:
    """Decode stripe-column rows whose partitions each hold whole stripes
    with every stripe's rows contiguous — no exchange of its own."""
    nested_schema = None
    if any(isinstance(f.dataType, (T.StructType, T.MapType))
           or (isinstance(f.dataType, T.ArrayType)
               and _needs_decompose(f.dataType))
           for f in schema.fields):
        nested_schema = schema
        schema = _flat_schema(schema)
        columns = [f.name for f in schema.fields]
    elif columns is None:
        columns = [f.name for f in schema.fields]
    if nested_schema is None and any(_STRUCT_SEP in c for c in columns):
        # struct leaves persisted without a caller nested schema: re-nest
        nested_schema = _nest_schema(schema)
    scan_cols = list(columns)
    if stride_range is not None and stride_range[0] not in scan_cols:
        scan_cols.append(stride_range[0])  # stats live on the predicate col
    # the filter keeps row order, so per-stripe contiguity still holds
    pruned = stripes.filter(F.col("col_name").isin(scan_cols))
    target_schema = _arrow_schema(schema)

    def decode_partition(batches):
        """STREAMING per-stripe decode: each stripe's rows arrive
        contiguously, so each stripe is decoded and yielded as soon as its
        last row has arrived — task memory is bounded by one stripe's rows
        plus one incoming Arrow batch, not by the whole partition (the
        encode side bounds its partitions via the STRIPES_PER_PARTITION
        floor; this is the decode-side analog, and matters at scale where
        one task may own thousands of stripes)."""
        import numpy as np
        import pyarrow as pa
        pending = None  # rows of the stripe straddling the batch boundary
        for b in batches:
            if b.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([b])
            if pending is not None:
                tbl = pa.concat_tables([pending, tbl])
            ids = tbl.column("stripe_id").combine_chunks().dictionary_encode()
            codes = np.asarray(ids.indices)
            change = np.flatnonzero(np.diff(codes) != 0) + 1
            bounds = np.concatenate(([0], change, [len(codes)]))
            for i in range(len(bounds) - 2):
                lo, hi = int(bounds[i]), int(bounds[i + 1])
                rows = tbl.slice(lo, hi - lo).to_pylist()
                yield stripe_mod.decode_stripe_arrow(
                    rows, columns, target_schema, stride_range=stride_range)
            pending = tbl.slice(int(bounds[-2]))
        if pending is not None and pending.num_rows:
            yield stripe_mod.decode_stripe_arrow(
                pending.to_pylist(), columns, target_schema,
                stride_range=stride_range)

    out = pruned.mapInArrow(decode_partition, schema)
    if nested_schema is not None:
        out = _reassemble_structs(out, nested_schema)
    return out


def _decode_files(spark: SparkSession, out_dir: str, manifest: DataFrame,
                  schema: T.StructType, columns: list[str],
                  stride_range: tuple | None = None) -> DataFrame:
    """Decode the stripes ``manifest`` lists, planned on the driver: its
    (stripe_id, path) rows are collected once and each stripe is read from
    ONE file, min(path) — a crash replay can commit a stripe twice. One
    ``mapInArrow`` task per file, at most one wave per core (``_tasks``),
    over a local (file, keep-list) relation: no exchange, the stripe bytes
    never cross the network. Each task reads its file with pyarrow through
    _table_fs, ``col_name`` and ``stripe_id`` pushed down to the parquet
    row groups. A file under ``stripes/`` the manifest does not name (a
    crash orphan) is never opened."""
    owner: dict[str, str] = {}
    for sid, path in manifest.select("stripe_id", "path").collect():
        if path is None:  # a row appended before manifests recorded paths
            raise ValueError(_NO_PATHS.format(out_dir))
        owner[sid] = min(path, owner.get(sid, path))
    by_file: dict[str, list[str]] = {}
    for sid, path in sorted(owner.items()):
        by_file.setdefault(path, []).append(sid)
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
    scan_cols = list(columns)
    if stride_range is not None and stride_range[0] not in scan_cols:
        scan_cols.append(stride_range[0])  # stats live on the predicate col
    target_schema = _arrow_schema(schema)

    def decode_files(batches):
        import pyarrow.parquet as pq
        for b in batches:
            for path, keep in zip(b.column("path").to_pylist(),
                                  b.column("keep").to_pylist()):
                tbl = pq.read_table(f"{base}/{path}", filesystem=filesystem,
                                    filters=[("col_name", "in", scan_cols),
                                             ("stripe_id", "in", keep)])
                by_stripe: dict[str, list] = {sid: [] for sid in keep}
                for r in tbl.to_pylist():
                    by_stripe[r["stripe_id"]].append(r)
                for sid, rows in by_stripe.items():
                    lost = set(scan_cols) - {r["col_name"] for r in rows}
                    if lost:
                        raise ValueError(
                            f"stripe {sid} lacks columns {sorted(lost)} in "
                            f"{path}, the file the manifest of {out_dir} "
                            "names for it")
                    yield stripe_mod.decode_stripe_arrow(
                        rows, columns, target_schema,
                        stride_range=stride_range)

    out = files.mapInArrow(decode_files, schema)
    if any(_STRUCT_SEP in c for c in columns):
        # nested leaves persisted flat: re-nest from the leaf names (same
        # contract as decode_dataframe's schema-free path)
        out = _reassemble_structs(out, _nest_schema(schema))
    return out


def build_manifest(stripes: DataFrame, key_col: str | None = None,
                   order_col: str | None = None) -> DataFrame:
    """Footer-style per-stripe index (the FileMetadata/StripeInformation +
    ColumnStatistics analog, src/proto.rs:206-217,66-87): one small row per
    stripe with sizes, per-key min/max for stripe pruning, and the file
    holding the stripe (``path``: the StripeInformation offset analog,
    which decode_job plans from)."""
    aggs = [
        F.max("bucket").alias("bucket"),
        F.max("n_rows").alias("n_rows"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.count("*").alias("n_cols"),
        F.min("path").alias("path"),
        F.concat_ws(",", F.sort_array(F.collect_list(
            F.concat_ws(":", "col_name", "codec")))).alias("codecs"),
        F.concat_ws(",", F.sort_array(F.collect_list(
            F.concat_ws(":", "col_name", "col_kind")))).alias("kinds"),
        F.sha1(F.concat_ws(",", F.sort_array(F.collect_list(
            F.concat_ws(":", "col_name", "checksum"))))).alias("checksum"),
    ]
    for c, alias in ((key_col, "key"), (order_col, "order")):
        if c:
            aggs.append(F.max(F.when(F.col("col_name") == c, F.col("min_val"))).alias(f"{alias}_min"))
            aggs.append(F.max(F.when(F.col("col_name") == c, F.col("max_val"))).alias(f"{alias}_max"))
    if key_col:
        aggs.append(F.first(F.when(F.col("col_name") == key_col, F.col("bloom")),
                            ignorenulls=True).alias("key_bloom"))
    return stripes.groupBy("stripe_id").agg(*aggs)


# ---------------------------------------------------------------------------
# persistent job with lineage + idempotent resume
# ---------------------------------------------------------------------------


def _lineage_from_manifest(manifest: DataFrame, run_id: str,
                           params: dict | None = None) -> DataFrame:
    params = params or {}
    return manifest.select(
        "stripe_id", "bucket", "n_rows", "raw_bytes", "enc_bytes", "n_cols",
        "codecs", "checksum",
        F.lit("ok").alias("status"), F.lit(run_id).alias("run_id"),
        F.current_timestamp().alias("committed_at"),
        F.lit(params.get("n_buckets")).cast("long").alias("p_n_buckets"),
        F.lit(params.get("stripe_rows")).cast("long").alias("p_stripe_rows"),
        F.lit(params.get("key_col")).cast("string").alias("p_key_col"),
        F.lit(params.get("order_col")).cast("string").alias("p_order_col"),
        # -1 = "no stride index" (a real layout choice, not "unspecified"):
        # a None->value transition on resume must be caught too
        F.lit(params.get("index_rows", -1) if params.get("index_rows")
              is not None else -1).cast("long").alias("p_index_rows"),
        F.lit(",".join(params["bloom_cols"])
              if params.get("bloom_cols") is not None else None)
         .cast("string").alias("p_bloom_cols"),
        F.lit(",".join(params["sort_keys"])
              if params.get("sort_keys") is not None else None)
         .cast("string").alias("p_sort_keys"),
    )


def _read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The lineage table, or None when ``out_dir`` has none: no committed
    file under ``lineage/`` (listed through _table_fs, skipping ``_``/``.``
    entries as Spark does, so a crash inside ``_temporary`` is still
    fresh) or a lineage Spark cannot read. The listing spares a fresh
    table the failed ``spark.read`` and its py4j exception conversion
    (~65 ms of driver time per call)."""
    from pyarrow import fs as pafs
    filesystem, base = _table_fs(out_dir)
    root = f"{base}/lineage/"
    sel = pafs.FileSelector(root, allow_not_found=True, recursive=True)
    if not any(info.type == pafs.FileType.File
               and not any(part[:1] in ("_", ".")
                           for part in info.path[len(root):].split("/"))
               for info in filesystem.get_file_info(sel)):
        return None
    try:
        return spark.read.parquet(f"{out_dir}/lineage")
    except Exception:
        return None


def _ok_stripe_ids(lineage: DataFrame) -> DataFrame:
    return lineage.filter(F.col("status") == "ok").select("stripe_id").distinct()


def completed_stripes(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Stripe ids already committed per the lineage table (None if fresh)."""
    lineage = _read_lineage(spark, out_dir)
    return None if lineage is None else _ok_stripe_ids(lineage)


def _check_resume_params(lineage: DataFrame, out_dir: str,
                         params: dict) -> None:
    """Fail fast when resuming into an out_dir that was written with
    different partitioning parameters: stripe ids are a pure function of
    (input, n_buckets, stripe_rows), so a silent param change would pass the
    lineage anti-join and append a disjoint second copy of the data.
    index_rows/bloom_cols don't move rows but DO change stripe bytes — a
    mismatch would break the 're-encoding a stripe reproduces identical
    bytes' invariant and produce a mixed-layout table, so they're guarded
    too (older lineage without these columns skips their check)."""
    try:
        row = lineage.select(*[c for c in (
            "p_n_buckets", "p_stripe_rows", "p_key_col", "p_index_rows",
            "p_bloom_cols", "p_sort_keys") if c in lineage.columns]).first()
    except Exception:
        return
    if row is None or row["p_n_buckets"] is None:
        return  # pre-param lineage (or empty): nothing to check against
    want_bloom = (",".join(params["bloom_cols"])
                  if params.get("bloom_cols") is not None else None)
    checks = [
        (row["p_n_buckets"], params.get("n_buckets"), "n_buckets"),
        (row["p_stripe_rows"], params.get("stripe_rows"), "stripe_rows"),
        (row["p_key_col"], params.get("key_col"), "key_col")]
    if "p_index_rows" in row.__fields__:
        want_idx = params["index_rows"] if params.get("index_rows") is not None else -1
        checks.append((row["p_index_rows"], want_idx, "index_rows"))
        checks.append((row["p_bloom_cols"], want_bloom, "bloom_cols"))
    if "p_sort_keys" in row.__fields__:
        want_sort = (",".join(params["sort_keys"])
                     if params.get("sort_keys") is not None else None)
        checks.append((row["p_sort_keys"], want_sort, "sort_keys"))
    for have, want, name in checks:
        if want is not None and have is not None and have != want:
            raise ValueError(
                f"resume into {out_dir} with mismatched {name}: "
                f"lineage has {have!r}, job has {want!r} — stripe layout "
                "would not line up and the table would be silently mixed")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The manifest with crash-window duplicates collapsed: a rerun that
    died between the manifest append and the lineage append re-appends the
    same manifest rows; dedupe by stripe_id so stats never double-count."""
    return (spark.read.parquet(f"{out_dir}/manifest")
            .dropDuplicates(["stripe_id"]))


@contextlib.contextmanager
def _write_run(spark: SparkSession, stripes: DataFrame, out_dir: str,
               run_id: str, key_col: str | None, order_col: str | None):
    """Append ``stripes`` under ``stripes/run=<run_id>``, derive the manifest
    from ONLY that run's written bytes, append it, and yield it persisted
    for the caller's lineage rows. Each manifest row's ``path`` names the
    file holding the stripe, relative to the table root so a copied table
    still reads (taken here, before the dropDuplicates, by
    ``input_file_name``). The one place commit() and compact_job publish a
    run's bytes from."""
    run_dir = f"{out_dir}/stripes/run={run_id}"
    stripes.write.mode("append").parquet(run_dir)
    path = F.concat(F.lit(f"stripes/run={run_id}/"),
                    F.substring_index(F.input_file_name(), "/", -1))
    written = (spark.read.schema(STRIPE_SCHEMA).parquet(run_dir)
               .withColumn("path", path)
               .dropDuplicates(["stripe_id", "col_name"]))
    # the manifest feeds the manifest write and the caller's lineage rows;
    # persist so the run-dir scan + groupBy runs once per commit. Explicit
    # unpersist: the streaming path commits per micro-batch, and leaked
    # cache entries would accumulate for the stream's lifetime.
    from pyspark import StorageLevel
    manifest = build_manifest(written, key_col, order_col).persist(
        StorageLevel.MEMORY_AND_DISK)
    try:
        manifest.write.mode("append").parquet(f"{out_dir}/manifest")
        yield manifest
    finally:
        manifest.unpersist()


def commit(spark: SparkSession, stripes: DataFrame, out_dir: str,
           key_col: str, order_col: str | None, run_id: str,
           params: dict | None = None) -> None:
    """Two-phase commit of ONE batch of stripes: append the batch's rows
    into a run-scoped partition (``stripes/run=<run_id>``), then derive +
    append manifest and lineage from ONLY that run's written bytes.

    Commit cost is O(batch), never O(table) — the streaming path calls this
    per micro-batch, and re-reading the whole stripes table per batch would
    grow without bound. Crash-window replays (same run_id appending
    byte-identical rows twice) are collapsed by the stripe-level
    dropDuplicates before stats are aggregated, so manifest raw/enc byte
    counts and checksums are invariant to replayed appends."""
    with _write_run(spark, stripes, out_dir, run_id, key_col,
                    order_col) as manifest:
        (_lineage_from_manifest(manifest, run_id, params)
         .write.mode("append").parquet(f"{out_dir}/lineage"))


def read_stripes(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every stripe-column row under ``stripes/`` (all runs, crash orphans
    and tombstoned stripes included), the run= partition column dropped.
    decode_job never reads it: it opens only the files the manifest
    names."""
    return (spark.read.schema(STRIPE_SCHEMA)
            .option("basePath", f"{out_dir}/stripes")
            .parquet(f"{out_dir}/stripes")
            .select(*[f.name for f in STRIPE_SCHEMA.fields]))


def encode_job(spark: SparkSession, df: DataFrame, out_dir: str,
               key_col: str = "conv_id", order_col: str | None = "turn_idx",
               sort_keys: list[str] | None = None,
               stripe_rows: int = DEFAULT_STRIPE_ROWS,
               n_buckets: int | None = None,
               index_rows: int | None = None,
               bloom_cols: list[str] | None = None) -> dict:
    """Encode ``df`` to ``out_dir``/{stripes,manifest,lineage} parquet.
    The key column gets a per-stripe bloom filter by default (manifest
    ``key_bloom``), enabling point-lookup stripe pruning via decode_job's
    ``key_equals``.

    Idempotent resume (north_rule): stripe ids are a pure function of the
    input (bucket hash + order salt), so a rerun after a partial failure
    anti-joins the lineage table and encodes ONLY the missing stripes;
    re-encoding a stripe reproduces identical bytes (deterministic codecs),
    and lineage gains exactly one 'ok' row per stripe. Resuming with
    different n_buckets/stripe_rows/key_col raises (lineage records them).
    """
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
    lineage = _read_lineage(spark, out_dir)
    if lineage is not None:
        _check_resume_params(lineage, out_dir, params)

    stripes = encode_dataframe(df, key_col, order_col, sort_keys,
                               stripe_rows, n_buckets, index_rows=index_rows,
                               bloom_cols=bloom_cols)

    resumed = lineage is not None
    if resumed:
        stripes = stripes.join(F.broadcast(_ok_stripe_ids(lineage)),
                               "stripe_id", "left_anti")

    commit(spark, stripes, out_dir, key_col, order_col, run_id, params=params)

    stats_man = read_manifest(spark, out_dir)
    if has_compactions(out_dir):
        # tombstoned stripes keep their manifest rows (old snapshots need
        # them) — stats must count only the active set or they double
        stats_man = stats_man.join(active_stripe_ids(spark, out_dir),
                                   "stripe_id", "left_semi")
    stats = (stats_man
             .agg(F.count("*").alias("n_stripes"), F.sum("n_rows").alias("n_rows"),
                  F.sum("raw_bytes").alias("raw_bytes"),
                  F.sum("enc_bytes").alias("enc_bytes")).collect()[0])
    return {"run_id": run_id, "resumed": resumed, "n_buckets": n_buckets,
            "n_stripes": stats["n_stripes"], "n_rows": stats["n_rows"],
            "raw_bytes": stats["raw_bytes"], "enc_bytes": stats["enc_bytes"]}


def decode_job(spark: SparkSession, out_dir: str,
               columns: list[str] | None = None,
               stripe_predicate=None,
               stride_range: tuple | None = None,
               key_equals=None, as_of=None) -> DataFrame:
    """Read + decode a persisted stripes table, planned from its manifest
    (the reference's footer-first read, src/read/mod.rs:46-159): the
    manifest is pruned, each surviving stripe's file comes from its
    ``path``, and one task per file decodes (see _decode_files). Files the
    manifest does not name — crash orphans — stay invisible.

    ``stripe_predicate`` is a Column over the manifest (e.g. key_min/key_max
    bounds) pruning whole stripes before any decode work — the Spark analog
    of the reference's (unused) stats-skipping model (src/proto.rs:66-111);
    ``key_equals`` prunes by the per-stripe key bloom filter.
    ``stride_range`` additionally skips row groups INSIDE surviving stripes
    (see decode_dataframe). Stats are strings: numeric predicates must use
    int-like key columns (stored numerically) or cast explicitly.

    ``as_of`` (a run_id, or anything castable to timestamp) time-travels to
    that snapshot. Compacted tables always resolve stripe visibility
    through the lineage active set (status ok minus tombstoned); never-
    compacted tables skip that join entirely — the hot path is unchanged.
    A table whose manifest predates the ``path`` column raises ValueError."""
    manifest, kinds = _open_manifest(spark, out_dir)
    if as_of is not None or has_compactions(out_dir):
        act = active_stripe_ids(spark, out_dir, as_of)
        if act is not None:
            manifest = manifest.join(act, "stripe_id", "left_semi")
    if stripe_predicate is not None:
        manifest = manifest.filter(stripe_predicate)
    if key_equals is not None:
        # bloom probe per manifest row — distributed (the manifest can be
        # millions of rows at 100 TB; only the SURVIVORS come back)
        from pyspark.sql.functions import arrow_udf
        from . import bloom as bloom_mod
        target = key_equals

        @arrow_udf("boolean")
        def probe(blooms: pa.Array) -> pa.Array:
            # one vectorized batch probe: target hashed once, k probe
            # BYTES gathered per blob — no per-row header parse or
            # bitset unpack (15M manifest rows = 15M probes at 100 TB)
            return pa.array(bloom_mod.might_contain_many(
                [b if b is not None else b"" for b in blooms.to_pylist()],
                target))

        manifest = manifest.filter(probe(F.col("key_bloom")))
    schema, columns = _schema_from_kinds(kinds, columns)
    return _decode_files(spark, out_dir, manifest, schema, columns,
                         stride_range)


# the name existing callers (perfbench/workloads.py) still use
decode_job_clustered = decode_job


# ---------------------------------------------------------------------------
# snapshots, time travel, compaction (Iceberg-style table maintenance)
# ---------------------------------------------------------------------------
# The stripes/manifest/lineage tables are append-only; a stripe's VISIBILITY
# is a lineage question, never a byte question. Compaction therefore never
# deletes anything: it appends merged stripes under a fresh run and appends
# 'compacted' tombstone rows for the replaced ids, and every decode of a
# compacted table resolves the active set (status ok MINUS tombstoned). Old
# snapshots stay readable forever via decode_job(as_of=...).

_COMPACT_MARKER_DIR = "_compactions"
_seen_compactions: set[str] = set()   # positive cache only — a table once
#                                       compacted stays compacted; negatives
#                                       are re-checked so a concurrent
#                                       compaction is never missed


def _table_fs(out_dir: str):
    """(filesystem, base_path) via pyarrow.fs for a table, index or its
    markers, so driver- and task-side pyarrow I/O works on object stores
    too. ONLY scheme-less strings fall back to the local filesystem: a URI
    pyarrow can't resolve (s3a://, abfss://, dbfs://) raises instead —
    silently writing the compaction/expiry markers or an index's meta to a
    local directory named after the URI would make other drivers see the
    table as never-compacted and decode tombstoned stripes (duplicates),
    or miss the index meta."""
    import os
    import re

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


def has_compactions(out_dir: str) -> bool:
    """True once compact_job has ever run against this table (driver-side
    marker listing; one RPC on object stores, cached when positive). The
    cache key is the RESOLVED (filesystem, base) path, so ``tbl``,
    ``./tbl`` and the absolute path share one entry instead of paying one
    listing RPC each (round-5 review finding)."""
    filesystem, base = _table_fs(out_dir)
    if base in _seen_compactions:
        return True
    from pyarrow import fs as pafs
    sel = pafs.FileSelector(f"{base}/{_COMPACT_MARKER_DIR}",
                            allow_not_found=True)
    found = bool(filesystem.get_file_info(sel))
    if found:
        _seen_compactions.add(base)
    return found


def _write_compaction_marker(out_dir: str, run_id: str) -> None:
    filesystem, base = _table_fs(out_dir)
    filesystem.create_dir(f"{base}/{_COMPACT_MARKER_DIR}", recursive=True)
    with filesystem.open_output_stream(
            f"{base}/{_COMPACT_MARKER_DIR}/{run_id}") as f:
        f.write(run_id.encode())
    _seen_compactions.add(base)


def snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-run commit history (the Iceberg snapshot-list analog): one row
    per (run_id, status) with its commit time and stripe/row/byte totals,
    oldest first. 'ok' rows are publishes, 'compacted' rows are the same
    run's tombstones."""
    lineage = spark.read.parquet(f"{out_dir}/lineage")
    return (lineage.groupBy("run_id", "status")
            .agg(F.min("committed_at").alias("committed_at"),
                 F.count("*").alias("n_stripes"),
                 F.sum("n_rows").alias("n_rows"),
                 F.sum("enc_bytes").alias("enc_bytes"))
            .orderBy("committed_at", "run_id", "status"))


def active_stripe_ids(spark: SparkSession, out_dir: str,
                      as_of=None) -> DataFrame | None:
    """Stripe ids visible in the current snapshot — or, with ``as_of``, in
    the table as it stood at that point: a run_id string (inclusive of that
    run's commit) or anything castable to timestamp. None when the table
    has no lineage (fresh dir: nothing to resolve)."""
    try:
        lineage = spark.read.parquet(f"{out_dir}/lineage")
    except Exception:
        if as_of is not None:
            raise ValueError(
                f"as_of={as_of!r} on {out_dir}: no lineage table — "
                "time travel needs commit()-written history")
        return None
    if as_of is not None:
        if isinstance(as_of, str):
            cut = (lineage.filter(F.col("run_id") == as_of)
                   .agg(F.max("committed_at")).collect()[0][0])
            if cut is None:
                raise ValueError(f"as_of run {as_of!r} not in lineage "
                                 f"of {out_dir}")
        else:
            cut = as_of
        lineage = lineage.filter(F.col("committed_at") <= F.lit(cut))
    ok = (lineage.filter(F.col("status") == "ok")
          .select("stripe_id", "run_id").distinct())
    dead = (lineage.filter(F.col("status") == "compacted")
            .select("stripe_id").distinct())
    active = ok.join(dead, "stripe_id", "left_anti")
    if as_of is not None:
        expired = _expired_runs(out_dir)
        if expired:
            # refuse only when the snapshot actually NEEDS an expired
            # run's bytes — i.e. one of its stripes is still ACTIVE at the
            # cutoff. A run fully tombstoned by then contributes nothing
            # (its rows live in the compacted stripes), so post-compaction
            # snapshots stay readable after expiry.
            hit = (active.filter(F.col("run_id").isin(list(expired)))
                   .select("run_id").first())
            if hit is not None:
                raise ValueError(
                    f"as_of={as_of!r} snapshot of {out_dir} needs "
                    f"expired run {hit['run_id']!r} — its bytes were "
                    "freed by expire_snapshots; that window is gone")
    return active.select("stripe_id").distinct()


def _layout_params(lineage: DataFrame) -> dict:
    """The table's layout params from its most recent parameterized commit
    (commit() records them on every lineage row)."""
    prow = (lineage.filter((F.col("status") == "ok")
                           & F.col("p_n_buckets").isNotNull())
            .orderBy(F.desc("committed_at")).first())
    if prow is None:
        raise ValueError("lineage records no layout params "
                         "(pre-param table) — cannot compact safely")
    blooms = (prow["p_bloom_cols"].split(",")
              if prow["p_bloom_cols"] else [])
    return {"n_buckets": int(prow["p_n_buckets"]),
            "stripe_rows": int(prow["p_stripe_rows"]),
            "key_col": prow["p_key_col"],
            "order_col": prow["p_order_col"],
            "index_rows": (None if prow["p_index_rows"] in (None, -1)
                           else int(prow["p_index_rows"])),
            "bloom_cols": blooms,
            "sort_keys": (prow["p_sort_keys"].split(",")
                          if "p_sort_keys" in prow.__fields__
                          and prow["p_sort_keys"] else None)}


def _assert_no_compaction_conflict(spark: SparkSession, out_dir: str,
                                   victims: DataFrame) -> None:
    """Raise if any victim stripe is ALREADY tombstoned in lineage — i.e. a
    concurrent compaction published against the same victims while this one
    was rewriting them (this run has not appended yet, so any tombstone on
    a victim is another writer's). See the call site in compact_job."""
    hit = (spark.read.parquet(f"{out_dir}/lineage")
           .filter(F.col("status") == "compacted")
           .join(victims, "stripe_id", "left_semi")
           .select("stripe_id").first())
    if hit is not None:
        raise RuntimeError(
            f"concurrent compaction conflict on {out_dir}: victim stripe "
            f"{hit['stripe_id']!r} was tombstoned by another run after "
            "victim selection; aborting without publishing (this run's "
            "bytes remain invisible orphans) — rerun compact_job")


def compact_job(spark: SparkSession, out_dir: str) -> dict:
    """Merge fragmented stripes — the streaming small-file problem: every
    micro-batch appends its own ``b<batch>-<bucket>-<salt>`` stripe, so a
    long-running stream leaves many under-filled stripes per (bucket, salt)
    slot where a batch encode would have written one.

    Any (bucket, salt) slot with >=2 ACTIVE stripes is rewritten: its rows
    decode, re-encode at the table's recorded layout params (same bucket
    hash, same order salt — the merged layout is exactly what a batch
    encode of the union would produce), land under a fresh ``c...`` run
    prefix (ids can never collide with live ids), and ONE lineage append
    publishes the new stripes and tombstones the old in the same job.

    Crash windows: the ``_compactions`` marker is written BEFORE any new
    bytes, so from that point every decode resolves visibility through the
    lineage active set — a compaction that dies after writing stripes but
    before the lineage append leaves only invisible orphan bytes, and
    rerunning compact_job (fresh run id) completes the work. Old snapshots
    remain readable: decode_job(as_of=<pre-compaction run>) sees the
    original stripes (tombstones commit later than the cutoff)."""
    lineage = spark.read.parquet(f"{out_dir}/lineage")
    params = _layout_params(lineage)
    act = active_stripe_ids(spark, out_dir)
    manifest, kinds = _open_manifest(spark, out_dir)
    # the active manifest feeds the slot scan, the victims' decode plan and
    # the tombstone rows; persist so the lineage-resolution joins behind it
    # run once
    from pyspark import StorageLevel
    man = (manifest.dropDuplicates(["stripe_id"])
           .join(act, "stripe_id", "left_semi")
           .persist(StorageLevel.MEMORY_AND_DISK))
    slots = (man.select("stripe_id", "bucket",
                        F.regexp_extract("stripe_id", r"-(\d{6,})$", 1)
                        .alias("salt"))
             .groupBy("bucket", "salt")
             .agg(F.collect_list("stripe_id").alias("sids"))
             .where(F.size("sids") >= 2))
    victims = slots.select(F.explode("sids").alias("stripe_id"))
    # victims feeds three consumers (this count, the decode plan, the
    # tombstone rows) — persist the skinny id list so the manifest/lineage
    # scan behind it runs once
    victims = victims.persist(StorageLevel.MEMORY_AND_DISK)
    n_victims = victims.count()
    if n_victims == 0:
        victims.unpersist()
        man.unpersist()
        return {"run_id": None, "compacted_stripes": 0, "new_stripes": 0}
    run_id = "c" + uuid.uuid4().hex[:11]
    _write_compaction_marker(out_dir, run_id)

    victim_man = man.join(victims, "stripe_id", "left_semi")
    df = _decode_files(spark, out_dir, victim_man,
                       *_schema_from_kinds(kinds, None))
    new_stripes = encode_dataframe(
        df, params["key_col"], params["order_col"],
        sort_keys=params.get("sort_keys"),
        stripe_rows=params["stripe_rows"], n_buckets=params["n_buckets"],
        index_rows=params["index_rows"], bloom_cols=params["bloom_cols"],
        stripe_prefix=f"{run_id}-")
    try:
        with _write_run(spark, new_stripes, out_dir, run_id,
                        params["key_col"],
                        params["order_col"]) as new_manifest:
            ok_rows = _lineage_from_manifest(new_manifest, run_id, params)
            dead_rows = (_lineage_from_manifest(victim_man, run_id, params)
                         .withColumn("status", F.lit("compacted")))
            # optimistic conflict detection (round-5 advice): a CONCURRENT
            # compactor (another driver, or a manual run racing the
            # stream's compact_every) may have selected the same victims
            # and published first — its merged stripes already carry these
            # rows, so publishing ours too would duplicate every compacted
            # row in all subsequent decodes. Re-read lineage at the last
            # moment and abort loudly; everything this run wrote stays
            # invisible (never published), exactly like a crash orphan,
            # and rerunning compact_job picks up whatever genuinely
            # remains fragmented. The check-then-append window is not zero
            # (object stores have no cross-writer CAS on parquet appends)
            # but shrinks the race from the whole rewrite job to one
            # driver round-trip; the documented deployment assumption
            # stays one maintenance writer per table.
            _assert_no_compaction_conflict(spark, out_dir, victims)
            # ONE append job publishes + tombstones together (both sides
            # share the query's current_timestamp, so an as_of cutoff can
            # never split them)
            ok_rows.unionByName(dead_rows).write.mode("append") \
                .parquet(f"{out_dir}/lineage")
            n_new = new_manifest.count()
    finally:
        victims.unpersist()
        man.unpersist()
    return {"run_id": run_id, "compacted_stripes": int(n_victims),
            "new_stripes": int(n_new)}


_EXPIRED_MARKER_DIR = "_expired"


def _expired_runs(out_dir: str) -> set[str]:
    from pyarrow import fs as pafs
    filesystem, base = _table_fs(out_dir)
    sel = pafs.FileSelector(f"{base}/{_EXPIRED_MARKER_DIR}",
                            allow_not_found=True)
    return {info.base_name for info in filesystem.get_file_info(sel)}


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
    window raises instead of silently returning partial data (the
    ``_expired`` marker is written BEFORE any bytes are deleted, so a
    crash mid-delete still errs on the loud side). Lineage and manifest
    rows are never deleted — history and stats stay queryable."""
    lineage = spark.read.parquet(f"{out_dir}/lineage")
    ok_ids = (lineage.filter(F.col("status") == "ok")
              .select("run_id", "stripe_id").distinct())
    dead = (lineage.filter(F.col("status") == "compacted")
            .select("stripe_id").distinct())
    live_runs = {r["run_id"] for r in
                 ok_ids.join(dead, "stripe_id", "left_anti")
                 .select("run_id").distinct().collect()}
    run_times = {r["run_id"]: r["t"] for r in
                 lineage.filter(F.col("status") == "ok")
                 .groupBy("run_id").agg(F.max("committed_at").alias("t"))
                 .collect()}
    already = _expired_runs(out_dir)
    expirable = [rid for rid in run_times
                 if rid not in live_runs and rid not in already
                 and (older_than is None or run_times[rid] <= older_than)]
    if not expirable:
        return {"expired_runs": [], "bytes_freed_approx": 0}
    freed = (spark.read.parquet(f"{out_dir}/manifest")
             .join(ok_ids.filter(F.col("run_id").isin(expirable))
                   .select("stripe_id").distinct(), "stripe_id", "left_semi")
             .agg(F.sum("enc_bytes")).collect()[0][0] or 0)
    filesystem, base = _table_fs(out_dir)
    filesystem.create_dir(f"{base}/{_EXPIRED_MARKER_DIR}", recursive=True)
    for rid in expirable:
        # marker FIRST: a crash between marker and delete leaves a run
        # that time travel refuses (loud) rather than half-reads (silent)
        with filesystem.open_output_stream(
                f"{base}/{_EXPIRED_MARKER_DIR}/{rid}") as f:
            f.write(rid.encode())
        try:
            filesystem.delete_dir(f"{base}/stripes/run={rid}")
        except FileNotFoundError:
            pass
    return {"expired_runs": sorted(expirable),
            "bytes_freed_approx": int(freed)}
