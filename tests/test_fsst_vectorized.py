"""Byte-exactness pins for the vectorized FSST kernels.

``build_table`` replaced a per-token Python dict-of-slices gains pass with a
(key, len) numpy grouping; ``match_all`` finds every position's longest
match with prescreens and hashed lookups; and inputs above ``_WALK_MIN``
bytes are tokenized by ``_block_walk``, which looks symbols up only where
its walkers step. All must reproduce the reference (brute-force / loop)
implementations EXACTLY — the table and the tokens define the encoded
bytes, and re-encoding a stripe must keep producing identical bytes for the
lineage checksum/resume contract.
"""

from __future__ import annotations

import numpy as np
import pytest

from orc_format_spark.codecs import fsst


def _reference_build_table(data: np.ndarray,
                           sample: int = fsst._SAMPLE) -> fsst.SymbolTable:
    """The pre-round-6 dict-of-slices implementation, verbatim."""
    if len(data) > sample:
        n_chunks = 8
        chunk = sample // n_chunks
        stride = len(data) // n_chunks
        data = np.concatenate(
            [data[i * stride:i * stride + chunk] for i in range(n_chunks)])
    blob = data.tobytes()
    table = fsst.SymbolTable([])
    for _ in range(fsst._ITERATIONS):
        starts, lens = fsst._emitted_tokens(data, table)
        st = starts.tolist()
        ln = lens.tolist()
        ends = (starts + lens).tolist()
        cat_ok = (np.concatenate([lens[:-1] + lens[1:], [99]])
                  <= fsst.MAX_LEN).tolist()
        gains: dict[bytes, int] = {}
        get = gains.get
        for j in range(len(st)):
            s, e = st[j], ends[j]
            sym = blob[s:e]
            gains[sym] = get(sym, 0) + ln[j]
            if cat_ok[j]:
                e2 = ends[j + 1]
                cat = blob[s:e2]
                gains[cat] = get(cat, 0) + (e2 - s)
        scored = sorted(gains.items(), key=lambda kv: (-kv[1], kv[0]))
        table = fsst.SymbolTable([s for s, _ in scored[:fsst.MAX_SYMBOLS]])
    return table


def _reference_token_starts(best_len: np.ndarray) -> np.ndarray:
    n = len(best_len)
    steps = np.maximum(best_len, 1).tolist()
    starts = []
    append = starts.append
    i = 0
    while i < n:
        append(i)
        i += steps[i]
    return np.array(starts, dtype=np.int64)


def _corpora():
    rng = np.random.default_rng(7)
    texts = [
        b"",
        b"a",
        b"the quick brown fox jumps over the lazy dog " * 400,
        bytes(rng.integers(0, 256, 5000, dtype=np.uint8)),  # high entropy
        b"\x00\x01\x00the\x00 and\x00" * 900,               # embedded NULs
        b"aaaaaaa" * 3000,                                  # degenerate runs
        ("tok001 tok002 the and model agent tool call data spark "
         "stripe codec ol\xc3\xa9 m\xc3\xbcller \xe6\x95\xb0"
         .encode("latin-1") * 500),
    ]
    # random word soup close to the bench shape, > 2 blocks long
    words = [f"tok{i:03d}".encode() for i in range(50)] + [b"the", b"and"]
    soup = b" ".join(words[int(i)] for i in
                     rng.integers(0, len(words), 6000))
    texts.append(soup)
    return texts


@pytest.mark.parametrize("idx", range(8))
def test_build_table_matches_reference(idx):
    blob = _corpora()[idx]
    data = np.frombuffer(blob, dtype=np.uint8)
    got = fsst.build_table(data)
    want = _reference_build_table(data)
    assert got.symbols == want.symbols


@pytest.mark.parametrize("idx", range(8))
def test_token_starts_matches_reference(idx):
    blob = _corpora()[idx]
    data = np.frombuffer(blob, dtype=np.uint8)
    table = fsst.build_table(data)
    best_len, _ = table.match_all(data)
    got = fsst._token_starts(best_len)
    want = _reference_token_starts(best_len)
    np.testing.assert_array_equal(got, want)


def test_token_starts_synthetic_step_patterns():
    """Random step patterns of 12-24 KB: the cursor loop against the
    reference."""
    rng = np.random.default_rng(11)
    for trial in range(6):
        n = int(rng.integers(3 * 4096, 6 * 4096))
        best_len = rng.integers(0, 9, n).astype(np.int8)
        got = fsst._token_starts(best_len)
        want = _reference_token_starts(best_len)
        np.testing.assert_array_equal(got, want)


def test_encode_decode_roundtrip_after_vectorization():
    blob = (b"the quick brown fox jumps over the lazy dog " * 300
            + bytes(np.random.default_rng(3).integers(0, 256, 2000,
                                                      dtype=np.uint8)))
    enc = fsst.encode(blob)
    assert fsst.decode(np.frombuffer(enc, dtype=np.uint8), len(blob)) == blob


def test_decode_255_symbols_with_escapes_builds_no_table(monkeypatch):
    """decode reads a full 255-symbol header (every length 1-8) and
    escapes, literal 255s included, to the exact input and the exact
    loop-decoder output, without building a SymbolTable: only the
    encoder needs its lookup tables."""
    rng = np.random.default_rng(17)
    symbols = sorted({bytes(rng.integers(0, 200, int(L), dtype=np.uint8))
                      for L in rng.integers(1, 9, 600)})[:fsst.MAX_SYMBOLS]
    assert len(symbols) == fsst.MAX_SYMBOLS
    table = fsst.SymbolTable(symbols)
    parts = [symbols[i] for i in rng.integers(0, len(symbols), 3000)]
    parts += [bytes([255, 255, 254, 255])] * 40  # bytes no symbol starts with
    rng.shuffle(parts)
    blob = b"".join(parts)
    codes = fsst._greedy_encode(np.frombuffer(blob, dtype=np.uint8), table)
    assert (codes == fsst.ESCAPE).sum() >= 160
    buf = table.serialize() + codes.tobytes()
    parsed, pos = fsst.SymbolTable.deserialize(buf)
    assert parsed.symbols == symbols and pos == len(table.serialize())

    want, i = bytearray(), len(table.serialize())
    while i < len(buf):  # the one-token-at-a-time decoder
        if buf[i] == fsst.ESCAPE:
            want.append(buf[i + 1])
            i += 2
        else:
            want += symbols[buf[i]]
            i += 1
    assert bytes(want) == blob

    def no_table(*args, **kwargs):
        raise AssertionError("decode built a SymbolTable")

    monkeypatch.setattr(fsst.SymbolTable, "__init__", no_table)
    assert fsst.decode(buf, len(blob)) == blob


def _reference_match_all(data: np.ndarray, table: fsst.SymbolTable):
    """Brute-force longest-match reference (no prescreens, no hashing)."""
    n = len(data)
    blob = data.tobytes()
    by_len = {}
    for code, s in enumerate(table.symbols):
        by_len.setdefault(len(s), {})[s] = code
    best_len = np.zeros(n, dtype=np.int8)
    best_code = np.zeros(n, dtype=np.uint8)
    for i in range(n):
        for L in range(min(fsst.MAX_LEN, n - i), 0, -1):
            code = by_len.get(L, {}).get(blob[i:i + L])
            if code is not None:
                best_len[i] = L
                best_code[i] = code
                break
    return best_len, best_code


@pytest.mark.parametrize("idx", range(8))
def test_match_all_matches_bruteforce(idx):
    blob = _corpora()[idx]
    data = np.frombuffer(blob, dtype=np.uint8)[:4000]  # brute force is O(n*8)
    table = fsst.build_table(data)
    got_len, got_code = table.match_all(data)
    want_len, want_code = _reference_match_all(data, table)
    np.testing.assert_array_equal(got_len, want_len)
    np.testing.assert_array_equal(got_code, want_code)


def test_match_all_bruteforce_random_tables():
    """Random symbol tables (incl. shared prefixes and NULs) over random
    data — exercises both prescreen LUT stages and every lookup kind."""
    rng = np.random.default_rng(5)
    for trial in range(5):
        n_sym = int(rng.integers(1, 200))
        syms, seen = [], set()
        for _ in range(n_sym):
            L = int(rng.integers(1, 9))
            s = bytes(rng.integers(0, 8, L).astype(np.uint8))  # tiny alphabet
            if s not in seen:
                seen.add(s)
                syms.append(s)
        table = fsst.SymbolTable(syms[:fsst.MAX_SYMBOLS])
        data = rng.integers(0, 8, 3000).astype(np.uint8)
        got_len, got_code = table.match_all(data)
        want_len, want_code = _reference_match_all(data, table)
        np.testing.assert_array_equal(got_len, want_len)
        np.testing.assert_array_equal(got_code, want_code)


def test_build_table_fuzz_nul_heavy_tie_breaks():
    """Adversarial fuzz for the (key, len) ordering equivalence: tiny
    alphabets INCLUDING NUL create symbols that are zero-padded prefixes of
    one another (e.g. b'a' vs b'a\\x00'), where equal padded keys make the
    length tie-break load-bearing, and small vocabularies create exact gain
    ties at the 255-symbol cut. 20 seeds, full build parity."""
    rng = np.random.default_rng(99)
    alphabets = [
        np.array([0, 1], dtype=np.uint8),
        np.array([0, 97], dtype=np.uint8),
        np.array([0, 1, 2, 32, 97], dtype=np.uint8),
    ]
    for trial in range(20):
        alpha = alphabets[trial % len(alphabets)]
        n = int(rng.integers(64, 3000))
        data = alpha[rng.integers(0, len(alpha), n)]
        got = fsst.build_table(data)
        want = _reference_build_table(data)
        assert got.symbols == want.symbols, f"trial {trial}"


def _reference_tokens(data: np.ndarray, table: fsst.SymbolTable):
    """Greedy tokens from the dense match and the reference cursor loop."""
    best_len, best_code = table.match_all(data)
    starts = _reference_token_starts(best_len)
    return starts, best_len[starts], best_code[starts]


def _assert_walk_exact(data, table, block=None):
    got = fsst._block_walk(data, table, block)
    want = _reference_tokens(data, table)
    for g, w, what in zip(got, want, ("starts", "lengths", "codes")):
        np.testing.assert_array_equal(g, w, err_msg=what)


def _tiled(blob: bytes, size: int = fsst._WALK_MIN + 4099) -> np.ndarray:
    return np.frombuffer((blob * (size // len(blob) + 1))[:size],
                         dtype=np.uint8)


@pytest.mark.parametrize("idx", range(1, 8))
def test_block_walk_matches_reference_on_tiled_corpora(idx):
    """Every non-empty corpus tiled above the walk crossover: the walk
    and _greedy_encode (which takes it there) against the dense path."""
    data = _tiled(_corpora()[idx])
    table = fsst.build_table(data)
    _assert_walk_exact(data, table)
    want = bytearray()
    for s, ln, c in zip(*(a.tolist() for a in _reference_tokens(data, table))):
        want += bytes([c]) if ln else bytes([fsst.ESCAPE, data[s]])
    assert fsst._greedy_encode(data, table).tobytes() == bytes(want)


def test_block_walk_matches_reference_on_transcript_text():
    """Bench-shaped text: the transcripts generator's turns, concatenated
    as a stripe's text column blob."""
    from orc_format_spark import transcripts
    texts = transcripts.expected_pandas(40, seed=104)["text"]
    data = _tiled("".join(texts).encode(), fsst._WALK_MIN + 70001)
    table = fsst.build_table(data)
    _assert_walk_exact(data, table)
    for block in (8, 24, 64):
        _assert_walk_exact(data[:60000], table, block)


def _random_table(rng, alpha, n_sym):
    syms, seen = [], set()
    for _ in range(n_sym):
        s = bytes(alpha[rng.integers(0, len(alpha), int(rng.integers(1, 9)))])
        if s not in seen:
            seen.add(s)
            syms.append(s)
    return fsst.SymbolTable(syms[:fsst.MAX_SYMBOLS])


def test_block_walk_random_tables_tiny_alphabets():
    """Random tables over tiny alphabets that include 0x00 and 0xFF (zero
    pad bytes, escape-valued literals, symbols that prefix one another),
    at tiny block sizes that force re-walks, merges and cascades through
    many blocks, and at the sized default."""
    rng = np.random.default_rng(23)
    alphabets = [np.array([0, 255], dtype=np.uint8),
                 np.array([0, 1, 255], dtype=np.uint8),
                 np.array([0, 97, 98, 255], dtype=np.uint8)]
    for trial in range(24):
        alpha = alphabets[trial % len(alphabets)]
        table = _random_table(rng, alpha, int(rng.integers(1, 120)))
        data = alpha[rng.integers(0, len(alpha), int(rng.integers(1, 5000)))]
        for block in (8, 9, 16, 40):
            _assert_walk_exact(data, table, block)
        _assert_walk_exact(data, table)


def test_block_walk_escape_only_and_all_8_byte_matches():
    rng = np.random.default_rng(31)
    # no symbol occurs in the data: every byte is an escape
    data = rng.integers(128, 256, fsst._WALK_MIN + 513).astype(np.uint8)
    table = fsst.SymbolTable([b"a", b"bc", b"xyz12345"])
    _assert_walk_exact(data, table)
    starts, lens, _ = fsst._block_walk(data, table)
    assert len(starts) == len(data) and not lens.any()
    # every token is the one 8-byte symbol, the tail a 3-byte remainder
    sym = b"\x00ab\xffcd\x00e"
    data = np.frombuffer(sym * 40000 + sym[:3], dtype=np.uint8)
    table = fsst.SymbolTable([sym, sym[:3], b"\x00"])
    _assert_walk_exact(data, table)
    for block in (8, 12, 100):
        _assert_walk_exact(data[:20003], table, block)
    _, lens, codes = fsst._block_walk(data, table)
    assert (lens[:-1] == 8).all() and (codes[:-1] == 0).all()
    assert lens[-1] == 3 and codes[-1] == 1


def test_block_walk_cascades_through_out_of_phase_blocks():
    """A run of one byte under a 2-byte symbol: a walker that starts one
    byte out of phase never joins the true path, so each block's exit
    moves the next block's entry and the fix-up cascades block to block."""
    data = np.frombuffer(b"x" + b"a" * 6000, dtype=np.uint8)
    table = fsst.SymbolTable([b"aa", b"x"])
    for block in (8, 9, 10, 64):
        _assert_walk_exact(data, table, block)


def test_match_at_matches_match_all():
    rng = np.random.default_rng(41)
    for trial in range(6):
        alpha = np.array([0, 1, 2, 255], dtype=np.uint8)
        table = _random_table(rng, alpha, int(rng.integers(1, 200)))
        data = alpha[rng.integers(0, len(alpha), 3000)]
        pos = np.sort(rng.choice(len(data), 700, replace=False))
        pos[-1] = len(data) - 1  # the tail, where only short lengths fit
        got = table.match_at(fsst._GramKeys(data), pos)
        want_len, want_code = table.match_all(data)
        np.testing.assert_array_equal(got[0], want_len[pos])
        np.testing.assert_array_equal(got[1], want_code[pos])
