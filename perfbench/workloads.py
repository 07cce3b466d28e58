"""The four workloads. Each is driven closed-loop by one client (the run
loop in ``run.py``): set-up once, then ops back to back. An op is the timed
call into the engine; its ``check`` runs untimed right after it and
compares the op's output with the input.

Every workload starts the same way: the seed's transcripts table
(``transcripts.expected_pandas``, the single-process form of
``transcripts.generate`` with the same rows), cut to exactly ``turns``
turns with a fixed share in long conversations (``select_input``), rows
shuffled, written as INPUT_FILES parquet files; its
order-independent digest (row count and summed ``xxhash64`` over the
columns); and one ``encode_job`` of it into the table the read workloads
read. That encode starts the Spark Python workers, which every later op
reuses. One untimed warm-up op follows.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orc_format_spark import pipeline, transcripts
from orc_format_spark.ops import dedup, text
from perfbench import probes
from perfbench.spans import Tracer

STRIPE_ROWS = 8192
INPUT_FILES = 8
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
NO_TEXT = [c for c in COLUMNS if c != "text"]
# the generator's expected share of turns in its 1% of 1k-10k-turn
# conversations: 0.01 * 5500.5 / (0.90 * 11 + 0.09 * 110.5 + 0.01 * 5500.5)
LONG_SHARE = 0.735
LOOKUP_ABSENT_FRAC = 0.10
LOOKUP_ZIPF_A = 1.3
CURATE_SUBSET = 8       # one turn in CURATE_SUBSET goes to the curate ops
MINHASH_K, MINHASH_N, MINHASH_SEED = 5, 64, 42  # minhash_signatures defaults


class CheckFailed(Exception):
    """An op's output does not match the input."""


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    turns: int
    work: str
    tracer: Tracer
    timings: dict = field(default_factory=dict)  # set-up step -> seconds
    tables: list = field(default_factory=list)   # (files, bytes, enc_bytes)


def digest_exprs(cols: list[str], prefix: str = "") -> list:
    return [F.count(F.lit(1)).alias(prefix + "n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias(prefix + "h")]


def digest(df: DataFrame, cols: list[str]) -> tuple:
    """Order-independent digest: (rows, sum of xxhash64 over ``cols``)."""
    row = df.agg(*digest_exprs(cols)).first()
    return int(row["n"]), row["h"]


def expect_equal(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


def conv_turns(conv: int, seed: int) -> int:
    """Turn count of conversation ``conv``: the generator's first draws
    (transcripts._gen_conversation), replayed to size the input."""
    rng = np.random.default_rng([seed, conv])
    u = rng.random()
    if u < 0.90:
        return int(rng.integers(2, 21))
    if u < 0.99:
        return int(rng.integers(21, 201))
    return int(rng.integers(1_000, 10_001))


def select_input(seed: int, turns: int) -> dict[int, int]:
    """Conversation -> turns kept, for an input of exactly ``turns`` turns
    of which LONG_SHARE are in 1k-10k-turn conversations. The seed's
    conversations are taken in order into the long or the short part
    until each part is full; the last one taken into a part is cut. Taken
    as they come, a few long conversations would decide a third of the
    input's size and its salting work, and both would move with the seed.
    """
    want = {True: round(turns * LONG_SHARE)}
    want[False] = turns - want[True]
    kept: dict[int, int] = {}
    conv = 0
    while want[True] or want[False]:
        n = conv_turns(conv, seed)
        long = n >= 1_000
        if want[long]:
            kept[conv] = min(n, want[long])
            want[long] -= kept[conv]
        conv += 1
    return kept


def write_input(kept: dict[int, int], seed: int, out_dir: str):
    """Write the first ``kept[conv]`` turns of each kept conversation of
    the seed as INPUT_FILES parquet files, rows in a seeded random order
    and ``ts`` as UTC instants (Spark's ``timestamp``). Returns the rows
    as a pyarrow table."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    pdf = transcripts.expected_pandas(max(kept) + 1, seed)
    conv = pdf["conv_id"].str[5:].astype(np.int64)
    limit = conv.map(kept)
    pdf = pdf[limit.notna() & (pdf["turn_idx"] < limit)]
    pdf = pdf.iloc[np.random.default_rng([seed, 3]).permutation(len(pdf))]
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts",
                         tbl.column("ts").cast(pa.timestamp("us", "UTC")))
    tbl = tbl.replace_schema_metadata(None)
    os.makedirs(out_dir)
    step = -(-tbl.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(tbl.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:02d}.parquet"))
    return tbl


class Workload:
    name = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.input_dir = os.path.join(ctx.work, "input")
        self.table_dir = os.path.join(ctx.work, "table")

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        self.kept = select_input(self.ctx.seed, self.ctx.turns)
        self.n_convs = len(self.kept)
        self.rows = write_input(self.kept, self.ctx.seed, self.input_dir)
        self.input = self.spark.read.parquet(self.input_dir)
        d = self.input.agg(*digest_exprs(COLUMNS),
                           *digest_exprs(NO_TEXT, "p")).first()
        self.input_digest = (int(d["n"]), d["h"])
        self.input_digest_no_text = (int(d["pn"]), d["ph"])
        self.n_turns = int(d["n"])
        self.ctx.timings["input_s"] = time.perf_counter() - t0
        self.preencode()

    def encode(self, out_dir: str) -> dict:
        return pipeline.encode_job(self.spark, self.input, out_dir,
                                   stripe_rows=STRIPE_ROWS)

    def probe_table(self, out_dir: str, stats: dict) -> None:
        """Record the files and bytes a written table takes on disk."""
        files, nbytes = probes.dir_usage(out_dir)
        self.ctx.tables.append((files, nbytes, stats["enc_bytes"]))

    def preencode(self) -> None:
        t0 = time.perf_counter()
        self.table = self.encode(self.table_dir)
        self.probe_table(self.table_dir, self.table)
        expect_equal("pre-encoded rows", self.table["n_rows"], self.n_turns)
        self.ctx.timings["preencode_s"] = time.perf_counter() - t0

    def bytes_per_raw_byte(self) -> float:
        return self.table["enc_bytes"] / self.table["raw_bytes"]

    # -- ops ----------------------------------------------------------------
    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> None:
        raise NotImplementedError

    def op_attrs(self, i: int) -> dict:
        """Facts about op ``i`` that the layer report needs."""
        return {}


class Ingest(Workload):
    """Each op encodes the input into a fresh table directory."""
    name = "ingest"

    def op(self, i: int):
        out_dir = os.path.join(self.ctx.work, f"ingest{i}")
        return out_dir, self.encode(out_dir)

    def check(self, i: int, out) -> None:
        out_dir, stats = out
        try:
            self.table = stats
            self.probe_table(out_dir, stats)
            expect_equal("encoded rows", stats["n_rows"], self.n_turns)
            expect_equal("decoded digest",
                         digest(pipeline.decode_job_clustered(
                             self.spark, out_dir), COLUMNS),
                         self.input_digest)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)


class Scan(Workload):
    """Each op decodes every column of the pre-built table, then the five
    columns other than ``text`` through the shuffle-free reader."""
    name = "scan"

    def op(self, i: int):
        full = digest(pipeline.decode_job(self.spark, self.table_dir),
                      COLUMNS)
        proj = digest(pipeline.decode_job_clustered(
            self.spark, self.table_dir, columns=NO_TEXT), NO_TEXT)
        return full, proj

    def check(self, i: int, out) -> None:
        full, proj = out
        expect_equal("full decode digest", full, self.input_digest)
        expect_equal("projected decode digest", proj,
                     self.input_digest_no_text)


def _lookup_rows(tbl) -> list[tuple]:
    """pyarrow table of transcript rows -> tuples sorted by turn, with
    ``ts`` as microseconds since the epoch."""
    import pyarrow as pa
    ts = tbl.column("ts").cast(pa.int64())
    rows = zip(*(tbl.column(c).to_pylist() for c in COLUMNS[:-1]),
               ts.to_pylist())
    return sorted(rows, key=lambda r: r[1])


class Lookup(Workload):
    """Each op is one point lookup by ``conv_id``: keys are Zipf-distributed
    over the existing conversations, and LOOKUP_ABSENT_FRAC of them name no
    conversation at all (the bloom-negative path)."""
    name = "lookup"

    def setup(self) -> None:
        super().setup()
        rng = np.random.default_rng([self.ctx.seed, 7])
        present = rng.permutation(sorted(self.kept))
        n_keys = 4096
        convs = present[(rng.zipf(LOOKUP_ZIPF_A, n_keys) - 1) % len(present)]
        absent = rng.random(n_keys) < LOOKUP_ABSENT_FRAC
        # ids past the input's last conversation name none
        convs[absent] = max(self.kept) + 1 + rng.integers(
            0, len(present), int(absent.sum()))
        self.keys = [f"conv-{int(c):010d}" for c in convs]

    def key(self, i: int) -> str:
        return self.keys[i % len(self.keys)]

    def op(self, i: int):
        k = self.key(i)
        return (pipeline.decode_job(self.spark, self.table_dir, key_equals=k)
                .filter(F.col("conv_id") == k)
                .select(*COLUMNS[:-1], F.unix_micros("ts").alias("ts"))
                .collect())

    def expected(self, k: str) -> list[tuple]:
        import pyarrow.compute as pc
        tbl = self.rows.filter(pc.equal(self.rows["conv_id"], k))
        return _lookup_rows(tbl)

    def check(self, i: int, out) -> None:
        got = sorted((tuple(r) for r in out), key=lambda r: r[1])
        expect_equal(f"rows of {self.key(i)}", got, self.expected(self.key(i)))

    def op_attrs(self, i: int) -> dict:
        conv = int(self.key(i)[5:])
        n = self.kept.get(conv, 0)
        return {"true_stripes": math.ceil(n / STRIPE_ROWS)}


def curate_frame(df: DataFrame, seed: int) -> DataFrame:
    """Documents for the curate ops: a seeded 1/CURATE_SUBSET of the turns,
    keyed by a long id derived from (conv_id, turn_idx)."""
    doc_id = (F.substring("conv_id", 6, 10).cast("long") * 16384
              + F.col("turn_idx"))
    return (df.where(F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed)),
                            F.lit(CURATE_SUBSET)) == 0)
            .select(doc_id.alias("doc_id"), "text"))


_BPE = r"'[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]'"
_WS_TOKENS = ("CASE WHEN char_length(trim(text)) = 0 THEN 0 "
              r"ELSE size(split(trim(text), '\\s+')) END")

# plain Spark SQL twins of the ops, over the view ``curate_input``
TWIN_SQL = {
    "exact_dedup": "SELECT text, min(doc_id) AS doc_id, count(*) AS n_copies "
                   "FROM curate_input GROUP BY text",
    "quality_metrics": (
        "SELECT doc_id, char_length(text) AS n_chars, "
        r"char_length(regexp_replace(text, '\\s', '')) AS n_non_ws, "
        f"{_WS_TOKENS} AS n_tokens, "
        "char_length(regexp_replace(text, '[^0-9]', '')) AS n_digits, "
        "char_length(regexp_replace(text, '[^.,;:!?]', '')) AS n_punct, "
        "char_length(regexp_replace(text, '[^A-Za-z]', '')) AS n_ascii_alpha "
        "FROM curate_input"),
    "token_counts": (
        f"SELECT doc_id, CAST({_WS_TOKENS} AS BIGINT) AS n_ws_tokens, "
        f"CAST(regexp_count(text, {_BPE}) AS BIGINT) AS n_bpe_tokens, "
        f"CAST(floor(CASE WHEN regexp_count(text, {_BPE}) > 0 "
        f"THEN CAST(100 * char_length(text) AS BIGINT) "
        f"/ regexp_count(text, {_BPE}) ELSE CAST(0 AS DOUBLE) END) AS BIGINT) "
        "AS chars_per_token_x100 FROM curate_input"),
}

OP_COLUMNS = {
    "exact_dedup": ["text", "doc_id", "n_copies"],
    "quality_metrics": ["doc_id", "n_chars", "n_non_ws", "n_tokens",
                        "n_digits", "n_punct", "n_ascii_alpha"],
    "token_counts": ["doc_id", "n_ws_tokens", "n_bpe_tokens",
                     "chars_per_token_x100"],
}


def minhash_reference(texts: list[str]) -> tuple[int, int]:
    """(docs, sum of every signature value) of ``minhash_signatures`` with
    its default parameters, computed one document at a time: k-byte
    rolling polynomial shingle hashes mod 2^61-1 (uint64 arithmetic, docs
    shorter than k hash to the single value 0), then per hash function the
    minimum of (a*h + b) mod 2^61-1."""
    mersenne = np.uint64((1 << 61) - 1)
    pows = np.array([pow(1_000_003, MINHASH_K - 1 - i, (1 << 61) - 1)
                     for i in range(MINHASH_K)], dtype=np.uint64)
    rng = np.random.default_rng(MINHASH_SEED)
    a = rng.integers(1, mersenne, MINHASH_N, dtype=np.uint64)
    b = rng.integers(0, mersenne, MINHASH_N, dtype=np.uint64)
    total = 0
    for t in texts:
        buf = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        if len(buf) < MINHASH_K:
            sh = np.zeros(1, dtype=np.uint64)
        else:
            n = len(buf) - MINHASH_K + 1
            sh = np.zeros(n, dtype=np.uint64)
            for j in range(MINHASH_K):
                sh += buf[j:j + n] * pows[j]
            sh %= mersenne
        sig = ((sh[:, None] * a[None, :] + b[None, :]) % mersenne).min(axis=0)
        total += sum(int(x) for x in sig)
    return len(texts), total


def signature_sum(df: DataFrame) -> tuple[int, int]:
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.aggregate(
        "signature", F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x)).alias("s")).first()
    return int(row["n"]), int(row["s"] or 0)


class Curate(Workload):
    """Each op decodes conv_id, turn_idx and text from the pre-built table,
    keeps the curate subset, and runs exact dedup, quality metrics, token
    counts and MinHash signatures over it."""
    name = "curate"

    def setup(self) -> None:
        super().setup()
        twin_input = curate_frame(self.input, self.ctx.seed)
        twin_input.createOrReplaceTempView("curate_input")
        self.want = {name: digest(self.spark.sql(sql), OP_COLUMNS[name])
                     for name, sql in TWIN_SQL.items()}
        self.want["minhash_signatures"] = minhash_reference(
            [r["text"] for r in twin_input.select("text").collect()])

    def op(self, i: int):
        docs = curate_frame(pipeline.decode_job_clustered(
            self.spark, self.table_dir,
            columns=["conv_id", "turn_idx", "text"]), self.ctx.seed)
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
        tracer = self.ctx.tracer
        try:
            with tracer.span("ops.decode_subset"):
                docs.count()
            out = {}
            with tracer.span("ops.exact_dedup"):
                out["exact_dedup"] = digest(dedup.exact_dedup(docs),
                                            OP_COLUMNS["exact_dedup"])
            with tracer.span("ops.quality_metrics"):
                out["quality_metrics"] = digest(
                    text.quality_metrics(docs), OP_COLUMNS["quality_metrics"])
            with tracer.span("ops.token_counts"):
                out["token_counts"] = digest(text.token_counts(docs),
                                             OP_COLUMNS["token_counts"])
            with tracer.span("ops.minhash_signatures"):
                out["minhash_signatures"] = signature_sum(
                    dedup.minhash_signatures(docs))
        finally:
            docs.unpersist()
        return out

    def check(self, i: int, out) -> None:
        for name, want in self.want.items():
            expect_equal(name, out[name], want)


WORKLOADS = {w.name: w for w in (Ingest, Scan, Lookup, Curate)}
