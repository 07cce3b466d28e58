"""Text analysis operators: quality scoring, token counting, language ID,
document fingerprinting. Quality/token metrics are pure built-in-function
column expressions (JVM, whole-stage codegen — SQL-oracle-checkable);
language-ID and fingerprints are Arrow kernels (pipeline.run_kernel):
columnar substring counts, and one numpy pass over the batch's UTF-8
buffer with no per-doc Python loop.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline import _binary_view, _column, run_kernel

_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")


def quality_metrics(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic integer quality metrics, SQL-expressible for the oracle:
    chars, non-whitespace chars, whitespace-token count, digit count,
    punctuation count, ascii-letter count."""
    t = F.col(text_col)
    non_ws = F.length(F.regexp_replace(t, r"\s", ""))
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        non_ws.alias("n_non_ws"),
        F.when(F.length(F.trim(t)) == 0, F.lit(0))
         .otherwise(F.size(F.split(F.trim(t), r"\s+"))).alias("n_tokens"),
        F.length(F.regexp_replace(t, r"[^0-9]", "")).alias("n_digits"),
        F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).alias("n_punct"),
        F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).alias("n_ascii_alpha"),
    )


def stopword_ratio(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Stopword token count (quality heuristic), built-ins only."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.array_intersect(toks, stop_arr))
    return df.select(F.col(id_col),
                     F.size(toks).alias("n_tokens"),
                     n_stop.alias("n_distinct_stopwords"))


# character n-gram profiles for a tiny deterministic language-ID heuristic
_LANG_PROFILES = {
    "en": (" th", "the", " an", "and", "ing", " of", "ion", "ed "),
    "de": ("der", "ein", "ich", "sch", " de", "und", "die", "en "),
    "fr": (" de", "es ", "le ", "ent", " le", "la ", "que", "ait"),
    "es": (" de", "os ", " la", "que", "el ", "ión", "ado", "as "),
}


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """n-gram-overlap language ID ('und' when nothing matches).

    Columnar: per profile gram, ONE ``pyarrow.compute.count_substring``
    pass over the whole batch (non-overlapping counts, same semantics as
    ``str.count`` / SQL replace-count, so the DuckDB oracle can reproduce
    the scores exactly). Lowercasing stays Python's ``str.lower``:
    ``utf8_lower`` differs on e.g. 'İ' and a word-final 'Σ'. Ties break to
    the lexicographically larger lang (matching ``max`` over (score, lang)
    tuples)."""
    langs = sorted(_LANG_PROFILES)  # ascending; later >= update == larger wins ties

    def infer(batch: pa.RecordBatch) -> pa.Table:
        s = pa.array([f" {t.lower()} "
                      for t in _column(batch, text_col).to_pylist()])
        best_score = np.full(len(s), -1, dtype=np.int64)
        best_lang = np.empty(len(s), dtype=object)
        for lang in langs:
            score = np.zeros(len(s), dtype=np.int64)
            for g in _LANG_PROFILES[lang]:
                score += pc.count_substring(s, g).to_numpy()
            upd = score >= best_score
            best_score[upd] = score[upd]
            best_lang[upd] = lang
        pred = np.where(best_score > 0, best_lang, "und")
        return pa.table({id_col: batch.column(id_col),
                         "lang_pred": pa.array(pred, pa.string())})

    return run_kernel(df, [id_col, text_col], infer,
                      f"{id_col} long, lang_pred string")


def language_id_oracle_sql(table: str = "documents", text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    """The ANSI-SQL twin of :func:`language_id` (for the DuckDB oracle):
    per-gram non-overlapping counts via replace-length arithmetic, best lang
    by (score DESC, lang DESC), 'und' when the best score is 0."""
    selects = []
    for lang, grams in _LANG_PROFILES.items():
        terms = " + ".join(
            "(LENGTH(s) - LENGTH(REPLACE(s, '{g}', ''))) / {n}".format(
                g=g.replace("'", "''"), n=len(g))
            for g in grams)
        selects.append(
            f"SELECT {id_col}, '{lang}' AS lang, CAST({terms} AS BIGINT) AS score "
            f"FROM (SELECT {id_col}, ' ' || LOWER({text_col}) || ' ' AS s FROM {table})")
    union = " UNION ALL ".join(selects)
    return (
        f"SELECT {id_col}, CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred "
        f"FROM (SELECT {id_col}, lang, score, ROW_NUMBER() OVER "
        f"(PARTITION BY {id_col} ORDER BY score DESC, lang DESC) AS rn "
        f"FROM ({union})) WHERE rn = 1")


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", window: int = 16) -> DataFrame:
    """Winnowing-style document fingerprint: min rolling polynomial hash per
    window (robust to small edits), as one int64 per doc. One numpy pass
    over the batch's UTF-8 buffer: global sliding windows, boundary
    masking, per-doc min via segmented ``minimum.reduceat``."""
    mod = np.uint64((1 << 61) - 1)
    base = np.uint64(1_000_003)
    pows = np.array([pow(1_000_003, window - 1 - i, int(mod))
                     for i in range(window)], dtype=np.uint64)

    def fp(batch: pa.RecordBatch) -> pa.Table:
        buf, starts = _binary_view(batch, text_col)
        buf = buf.astype(np.uint64)
        lens = np.diff(starts)

        out = np.zeros(len(lens), dtype=np.int64)
        n_win = len(buf) - window + 1
        long_docs = lens >= window
        if n_win > 0 and long_docs.any():
            h = np.zeros(n_win, dtype=np.uint64)
            for j in range(window):
                h += buf[j:j + n_win] * pows[j]
            h %= mod
            widx = np.arange(n_win, dtype=np.int64)
            doc_of = np.searchsorted(starts, widx, side="right") - 1
            valid = ((widx + window) <= starts[doc_of + 1]) & long_docs[doc_of]
            dv, hv = doc_of[valid], h[valid]
            seg = np.searchsorted(dv, np.flatnonzero(long_docs))
            mins = np.minimum.reduceat(hv, seg)
            out[long_docs] = mins.astype(np.int64) - (1 << 62)
        # short docs: whole-doc polynomial hash, one vectorized pass
        # over the same buffer (gather + segmented
        # add.reduceat). Byte-compatible with the historical per-doc
        # formula: powers wrap mod 2^64 (plain uint64 base**pos), each
        # term is reduced mod 2^61-1, the segment sum wraps mod 2^64,
        # and the final value is reduced mod 2^61-1 again.
        short = np.flatnonzero(~long_docs)
        if len(short):
            out[short] = -(1 << 62)
            nonempty = short[lens[short] > 0]
            if len(nonempty):
                seg_lens = lens[nonempty]
                bounds = np.zeros(len(nonempty), dtype=np.int64)
                np.cumsum(seg_lens[:-1], out=bounds[1:])
                total = int(seg_lens.sum())
                pos_in_doc = (np.arange(total, dtype=np.int64)
                              - np.repeat(bounds, seg_lens))
                byte_idx = np.repeat(starts[nonempty], seg_lens) + pos_in_doc
                with np.errstate(over="ignore"):
                    pow_tab = base ** np.arange(window, dtype=np.uint64)
                    terms = (buf[byte_idx] * pow_tab[pos_in_doc]) % mod
                    sums = np.add.reduceat(terms, bounds)
                out[nonempty] = (sums % mod).astype(np.int64) - (1 << 62)
        return pa.table({id_col: batch.column(id_col), "fingerprint": out})

    return run_kernel(df, [id_col, text_col], fp,
                      f"{id_col} long, fingerprint long")


# BPE-ish pre-tokenization pattern (letter runs | 1-3 digit runs |
# single non-alnum glyphs), an ASCII approximation of the GPT-2/cl100k
# pre-tokenizer regex — those use \p{L}/\p{N} plus lookaheads, which RE2
# (the DuckDB oracle's engine) rejects; this subset parses identically in
# Java regex and RE2 so the Spark plan and the SQL oracle count the same
# tokens.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


def token_counts(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-doc token counts for pipeline budgeting: whitespace tokens and
    BPE-ish subword-precursor tokens (regexp_count — JVM codegen, no
    Python), plus chars-per-BPE-token x100 as an integer compressibility
    signal (LLM tokenizers average ~4 chars/token on English prose;
    far-off values flag junk/binary-ish docs)."""
    t = F.col(text_col)
    ws = F.when(F.length(F.trim(t)) == 0, F.lit(0)) \
        .otherwise(F.size(F.split(F.trim(t), r"\s+")))
    bpe = F.regexp_count(t, F.lit(BPE_ISH_PATTERN))
    chars_per_100 = F.when(bpe > 0,
                           (F.lit(100) * F.length(t)).cast("long")
                           / bpe).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        ws.cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
        F.floor(chars_per_100).cast("long").alias("chars_per_token_x100"),
    )
