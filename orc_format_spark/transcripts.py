"""Deterministic synthetic transcripts table (FIXTURES.md §A).

Schema is exactly ``BASELINE.json`` ``input_hint``:
    (conv_id string, turn_idx int, role string, text string,
     tool string, ts timestamp)

Generation is distributed (``spark.range`` over conversation ids →
``mapInPandas``) and deterministic: every conversation's rows are a pure
function of (seed, conv_index), independent of partitioning. Properties the
engine must be exercised against (FIXTURES.md):
  - turn-count skew: ~90% of conversations 2-20 turns, ~9% 20-200,
    ~1% 1_000-10_000 (long-conversation skew for the salting path)
  - text: seeded token-sampled sentences over a shared vocab
    (FSST-friendly), 0..~2000 chars, with empty and non-ASCII rows
  - tool: NULL ~70% of rows (Present-stream stressor)
  - ts: per-conversation seeded start + cumulative 1-300 s gaps with ~0.1%
    hour-scale outliers (delta / patched-base stressor)
  - rows delivered shuffled, so the encode shuffle and the encode
    kernel's in-Arrow partition sort do real work
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp")

_ROLES = np.array(["user", "assistant", "system", "tool"])
_TOOLS = np.array(["bash", "read", "write", "grep", "edit", "glob", "fetch",
                   "task", "search", "run", "diff", "apply"])
_EPOCH_2025_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z in µs


def _vocab(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 51966])
    base = [f"tok{i:03d}" for i in range(400)]
    base += ["the", "and", "model", "agent", "tool", "call", "result", "data",
             "spark", "stripe", "codec", "olé", "müller", "→", "naïve", "数据",
             "列", "压缩", "répété"]
    words = np.array(base)
    rng.shuffle(words)
    return words


def _gen_conversation(conv: int, seed: int, vocab: np.ndarray) -> pd.DataFrame:
    rng = np.random.default_rng([seed, conv])
    u = rng.random()
    if u < 0.90:
        n_turns = int(rng.integers(2, 21))
    elif u < 0.99:
        n_turns = int(rng.integers(21, 201))
    else:
        n_turns = int(rng.integers(1_000, 10_001))

    turn_idx = np.arange(n_turns, dtype=np.int32)
    roles = _ROLES[np.where(turn_idx % 2 == 0, 0, 1)].copy()
    sysmask = rng.random(n_turns) < 0.02
    roles[sysmask] = "system"
    toolmask = rng.random(n_turns) < 0.10
    roles[toolmask] = "tool"

    # text: zipf-ish word draws from the shared vocab; some empty rows
    n_words = rng.integers(0, 40, size=n_turns)
    n_words[rng.random(n_turns) < 0.01] = 400  # occasional ~2000-char turns
    total = int(n_words.sum())
    widx = (rng.zipf(1.6, size=total) - 1) % len(vocab)
    picks = vocab[widx]
    bounds = np.cumsum(n_words)[:-1]
    texts = [" ".join(chunk) for chunk in np.split(picks, bounds)]

    tools = np.where(rng.random(n_turns) < 0.30,
                     _TOOLS[rng.integers(0, len(_TOOLS), n_turns)], None)

    gaps = rng.integers(1, 301, size=n_turns).astype(np.int64)
    outlier = rng.random(n_turns) < 0.001
    gaps[outlier] += rng.integers(3_600, 72_000, size=int(outlier.sum()))
    start = _EPOCH_2025_US + int(rng.integers(0, 365 * 86_400)) * 1_000_000
    ts = start + np.cumsum(gaps) * 1_000_000

    return pd.DataFrame({
        "conv_id": f"conv-{conv:010d}",
        "turn_idx": turn_idx,
        "role": roles,
        "text": texts,
        "tool": tools,
        "ts": ts.astype("datetime64[us]"),
    })


def generate(spark: SparkSession, n_convs: int, seed: int = 42,
             partitions: int | None = None, shuffle: bool = True) -> DataFrame:
    """Distributed deterministic transcripts DataFrame with ``n_convs``
    conversations (~11 turns/conversation on average, heavy upper tail).

    Partition sizing: ~128 conversations (~10k turns, ~2 MB) per partition,
    capped at 2048. The old n_convs//8 rule produced 256 partitions at
    bench scale — 256 tiny map tasks whose per-task scheduling + shuffle
    block count (M x R, guide §2.2) dominated the encode job's wall clock
    (measured: the 256->128 exchange alone cost 3.5 s vs 1.0 s from 64
    partitions on identical data). Content is a pure function of
    (seed, conv), so partitioning never changes the generated rows."""
    partitions = partitions or max(min(n_convs // 128, 2048), 8)
    vocab = _vocab(seed)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for conv in pdf["id"].tolist():
                yield _gen_conversation(int(conv), seed, vocab)

    df = (spark.range(n_convs).repartition(partitions)
          .mapInPandas(gen, schema=SCHEMA))
    if shuffle:
        # deterministic-but-scrambled layout so encode's repartition/sort is
        # actually exercised (FIXTURES.md ordering requirement)
        df = df.repartition(partitions, F.xxhash64("conv_id", "turn_idx"))
    return df


def enrich(df: DataFrame) -> DataFrame:
    """Rich agent-transcript variant: the flat north-star schema plus an
    OpenAI-style ``tool_calls array<struct<call_id:string, fn:struct<
    name:string, args:map<string,string>>, at:timestamp>>`` column, derived
    deterministically JVM-side from the flat columns (tool turns get one
    call, every 8th a retry pair; non-tool turns NULL). Exercises the
    engine's recursive nested flatten — per-element present leaves
    (``list:bool``), the in-element map's array<array<string>> keys/values
    leaves (``list:list:string``), and the array<timestamp> leaf
    (``list:timestamp``) — on the exact shape a real agent-transcript
    pipeline encodes."""
    def call(suffix: str, args_map):
        return F.struct(
            F.concat_ws("-", "conv_id", "turn_idx", F.lit(suffix))
            .alias("call_id"),
            F.struct(F.col("tool").alias("name"),
                     args_map.alias("args")).alias("fn"),
            F.col("ts").alias("at"))

    args1 = F.create_map(
        F.lit("q"), F.coalesce(F.substring("text", 1, 24), F.lit("")),
        F.lit("turn"), F.col("turn_idx").cast("string"))
    args2 = F.create_map(F.lit("retry"), F.lit("1"))
    calls = F.when(
        F.col("tool").isNotNull(),
        F.when(F.col("turn_idx") % 8 == 0,
               F.array(call("a", args1), call("b", args2)))
        .otherwise(F.array(call("a", args1))))
    return df.withColumn("tool_calls", calls)


def expected_pandas(n_convs: int, seed: int = 42) -> pd.DataFrame:
    """Driver-side oracle for tests: the same table, single-threaded."""
    vocab = _vocab(seed)
    parts = [_gen_conversation(c, seed, vocab) for c in range(n_convs)]
    out = pd.concat(parts, ignore_index=True)
    return out.sort_values(["conv_id", "turn_idx"], ignore_index=True)
