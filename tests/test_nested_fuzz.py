"""Seeded-random nested-schema roundtrip fuzz.

Generates random type trees covering every nested composition the engine
supports (struct/map/array at any depth, struct+map inside array<struct>
elements, recursive array<array<...>> leaves, temporal/decimal children),
random data with nulls at EVERY level, and asserts encode→decode equality
of rows and schema (nested nullability included) — both in memory
(roundtrip) and from a persisted table (decode_job, re-nested to the
schema its lineage recorded).

Deterministic seeds rather than hypothesis: each example spins Spark jobs,
so shrinking/deadline machinery would dominate runtime; distinct seeds give
reproducible diverse coverage instead.
"""
import datetime as dt
import random

import pytest

from orc_format_spark import pipeline

SCALARS = ["bigint", "int", "double", "float", "boolean", "string",
           "timestamp", "date", "decimal(12,2)", "decimal(24,4)"]
# scalars allowed as leaves of in-element arrays / nested list chains
CHAIN_SCALARS = ["bigint", "double", "string", "boolean", "timestamp",
                 "date", "decimal(20,3)"]


def _scalar_chain(r: random.Random, depth: int) -> str:
    """scalar or array<...array<scalar>...> — the recursive list: kinds."""
    t = r.choice(CHAIN_SCALARS)
    for _ in range(r.randint(0, depth)):
        t = f"array<{t}>"
    return t


def _gen_type(r: random.Random, depth: int, ctx: str = "free") -> str:
    """Unconstrained composition: struct / map / array freely nested (the
    engine's uniform recursion supports every combination; ``ctx`` is
    retained for seed stability of the signature only)."""
    if depth <= 0:
        return r.choice(SCALARS)
    roll = r.random()
    if roll < 0.35:
        return r.choice(SCALARS)
    if roll < 0.55:
        n = r.randint(1, 3)
        fields = ", ".join(f"f{i}: {_gen_type(r, depth - 1, ctx)}"
                           for i in range(n))
        return f"struct<{fields}>"
    if roll < 0.75:
        v = (_gen_type(r, depth - 1, ctx)
             if r.random() < 0.5 else _scalar_chain(r, 1))
        return f"map<string, {v}>"
    sub = r.random()
    if sub < 0.45:
        n = r.randint(1, 3)
        fields = ", ".join(f"g{i}: {_gen_type(r, depth - 1, ctx)}"
                           for i in range(n))
        return f"array<struct<{fields}>>"
    if sub < 0.6:
        return f"array<map<string, {_gen_type(r, depth - 1, ctx) if r.random() < 0.4 else _scalar_chain(r, 1)}>>"
    if sub < 0.8:
        return f"array<array<{_gen_type(r, depth - 1, ctx)}>>"
    return f"array<{_scalar_chain(r, 2)}>"


_DEC = __import__("decimal").Decimal


def _gen_value(r: random.Random, t: str, null_p: float = 0.2):
    if r.random() < null_p:
        return None
    if t == "bigint":
        return r.randint(-10**9, 10**9)
    if t == "int":
        return r.randint(-10**6, 10**6)
    if t in ("double", "float"):
        return round(r.uniform(-1e4, 1e4), 3)
    if t == "boolean":
        return r.random() < 0.5
    if t == "string":
        return "".join(r.choice("abcde fgh") for _ in range(r.randint(0, 8)))
    if t == "timestamp":
        return dt.datetime(2026, 1, 1) + dt.timedelta(
            seconds=r.randint(0, 10**7), microseconds=r.randint(0, 999999))
    if t == "date":
        return dt.date(2026, 1, 1) + dt.timedelta(days=r.randint(0, 3000))
    if t.startswith("decimal("):
        p, s = (int(x) for x in t[8:-1].split(","))
        digits = min(p, 20)
        q = _DEC(1).scaleb(-s)
        return (_DEC(r.randint(-10**digits, 10**digits)).scaleb(-s)
                .quantize(q))
    if t.startswith("array<"):
        inner = t[6:-1]
        return [_gen_value(r, inner) for _ in range(r.randint(0, 3))]
    if t.startswith("map<string, "):
        inner = t[12:-1]
        return {f"k{i}": _gen_value(r, inner) for i in range(r.randint(0, 3))}
    if t.startswith("struct<"):
        out = {}
        for part in _split_fields(t[7:-1]):
            name, ft = part.split(":", 1)
            out[name.strip()] = _gen_value(r, ft.strip())
        return out
    raise ValueError(t)


def _split_fields(s: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


@pytest.mark.parametrize("seed", [11, 23, 37, 41, 59, 73, 89, 97, 101, 113])
def test_random_nested_schema_roundtrip(spark, seed, tmp_path):  # noqa: F811
    r = random.Random(seed)
    n_cols = r.randint(1, 3)
    col_types = [_gen_type(r, 3, "free") for _ in range(n_cols)]
    schema = "id bigint, " + ", ".join(
        f"c{i} {t}" for i, t in enumerate(col_types))
    rows = [tuple([i] + [_gen_value(r, t, null_p=0.25) for t in col_types])
            for i in range(25)]
    df = spark.createDataFrame(rows, schema=schema)
    exp = {row["id"]: row.asDict(recursive=True) for row in df.collect()}
    dec = pipeline.roundtrip(df, "id", None, sort_keys=["id"], stripe_rows=10)
    assert dec.schema == df.schema, f"roundtrip schema for {schema}"
    got = {row["id"]: row.asDict(recursive=True) for row in dec.collect()}
    assert got == exp, f"roundtrip mismatch for {schema}"
    # persisted: decode_job re-nests to the schema the lineage recorded
    out = str(tmp_path / "t")
    pipeline.encode_job(spark, df, out, key_col="id", order_col=None,
                        sort_keys=["id"], stripe_rows=10)
    dec2 = pipeline.decode_job(spark, out)
    assert dec2.schema == df.schema, f"decode_job schema for {schema}"
    got2 = {row["id"]: row.asDict(recursive=True) for row in dec2.collect()}
    assert got2 == exp, f"decode_job mismatch for {schema}"
