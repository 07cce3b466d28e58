"""FSST-style symbol-table string compression (from the public paper:
Boncz, Neumann, Leis — "FSST: Fast Random Access String Compression",
VLDB 2020). No reference implementation exists in /root/reference
(SURVEY.md §2.8) — this is an independent, self-consistent design.

Format (our own container; decode-side self-parity pinned by tests):
    header:  u8 n_symbols (0..255)
             n_symbols * u8 symbol byte-lengths (1..8)
             concatenated symbol bytes
    body:    code stream; byte 0..254 = symbol code, byte 255 = escape,
             followed by one literal byte.

Table construction (paper §3.2, simplified deterministically): iterate
``_ITERATIONS`` times — greedily encode a bounded sample with the current
table, count frequencies of emitted symbols and of adjacent-symbol
concatenations (≤8 bytes), score gain = freq * len, keep the top 254
candidates (tie-broken by symbol bytes for determinism).

Greedy encoding takes the longest symbol at a cursor, emits its code (or
an escape), and moves the cursor past it. It has two paths, split at
``_WALK_MIN`` bytes (256 KB, the measured crossover):
- small inputs (``build_table``'s samples, the selector's 32 KB trial):
  ``SymbolTable.match_all`` finds the longest match at EVERY position with
  numpy (per symbol length: a prefix prescreen, then one hashed lookup),
  and ``_token_starts`` walks the cursor in a Python loop;
- large inputs: ``_block_walk`` looks symbols up only where tokens start,
  as the paper's encoder does. One walker per block (about 40 tokens)
  starts at the block start; all of them advance together, one numpy step
  per token (``SymbolTable.match_at``). The true path enters each block
  where the previous block's path leaves it, and greedy paths that share
  a position coincide from there on, so a block whose walkers did not
  visit its entry is re-walked from the entry only until it joins a
  recorded path. Periodic data whose walkers never join falls back to
  the dense path, window by window.
Both paths emit the same bytes (pinned by tests).
"""

from __future__ import annotations

import numpy as np

ESCAPE = 255
MAX_SYMBOLS = 255  # codes 0..254
MAX_LEN = 8
_ITERATIONS = 5
_SAMPLE = 1 << 15
# _greedy_encode walks blocks above this many bytes: below it, the
# per-step numpy calls of the walk cost more than the dense match + loop
_WALK_MIN = 1 << 18
# walk blocks hold about this many tokens: fewer make fewer lockstep steps
# (one per token of the longest block), more make fewer false starts (each
# walker's tokens before the true path joins it). The block size follows
# from the mean match length at _SIZE_PROBES positions, clipped to
# _BLOCK_RANGE bytes (measured on text, UTF-8, runs and random bytes)
_BLOCK_TOKENS = 40
_SIZE_PROBES = 1024
_BLOCK_RANGE = (64, 512)
# fix-up rounds before a cascade that is still moving is followed block by
# block over the recorded paths (text settles in 2-4 rounds; periodic data
# whose walkers stay out of phase moves one block per round); where no
# path is recorded, the dense path takes the next _DENSE_WINDOW bytes
_MAX_ROUNDS = 4
_DENSE_WINDOW = 1 << 15
_M64 = (1 << 64) - 1
_U48 = np.uint64(48)
_U32 = np.uint64(32)
_U16 = np.uint64(0xFFFF)
# per candidate bitmask (bit L-1 for length L): its longest length, the
# mask with that length's bit cleared, and the lengths that fit in k bytes
_TOP = np.array([b.bit_length() for b in range(256)], dtype=np.intp)
_CLEAR = np.array([0xFF] + [0xFF ^ (1 << (L - 1)) for L in range(1, 9)],
                  dtype=np.uint8)
_FITS = np.array([(1 << k) - 1 for k in range(MAX_LEN + 1)], dtype=np.uint8)
# bit shift that turns an 8-byte key into the key of its first L bytes
_SHIFT = np.array([0] + [8 * (MAX_LEN - L) for L in range(1, 9)],
                  dtype=np.uint64)


def _multipliers():
    """Multiply-shift hash multipliers, tried in turn until one gives a
    length's symbol keys distinct slots: 2**48 first (the identity on keys
    below 2**16, so on every 1- and 2-byte key), then a splitmix64 stream
    (odd). With <=255 keys in 65,536 slots a random multiplier works more
    often than not."""
    yield 1 << 48
    x = 0
    while True:
        x = (x + 0x9E3779B97F4A7C15) & _M64
        z = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
        yield (z ^ (z >> 31)) | 1


class _GramKeys:
    """Lazy 8-byte big-endian keys over zero-padded data: key8[i] = bytes
    i..i+7. No materialized O(8n) build — a 1-byte-strided unaligned
    big-endian uint64 VIEW over the padded buffer, so 8-byte keys are only
    ever converted at the (much sparser) candidate positions the caller
    gathers. The only construction cost is the n+7-byte pad copy."""

    def __init__(self, data: np.ndarray):
        self.n = n = len(data)
        pad = np.zeros(n + 7, dtype=np.uint8)
        pad[:n] = data
        self._pad = pad  # keeps the buffer alive under the strided view
        base = pad[:8].view(">u8")
        self._key8 = np.lib.stride_tricks.as_strided(
            base, shape=(n,), strides=(1,))


def _parse_header(buf, pos: int = 0) -> tuple[list[bytes], int]:
    """The symbols of a serialized table at ``pos`` and the offset just
    past it, with no lookup tables built (all decode needs)."""
    n = buf[pos]
    pos += 1
    lens = list(buf[pos:pos + n])
    pos += n
    symbols = []
    for ln in lens:
        symbols.append(bytes(buf[pos:pos + ln]))
        pos += ln
    return symbols, pos


class SymbolTable:
    """Up to 255 symbols of 1..8 bytes, with one exact lookup per length.

    Row L-1 of ``_slot_codes`` is a 65,536-slot table of the length-L
    symbols at slot ``(key * _mult[L]) >> 48``, the multiplier chosen so
    that this length's keys get distinct slots. A slot holds code + 1
    (0 = empty); a gram hits if ``_code_keys[code + 1]`` is its key.

    Two prescreens hold bit L-1 for length L: ``_first2`` over a
    position's 2 leading bytes (bit 0 over every second byte of a 1-byte
    symbol) and ``_mid2`` over its bytes 2-3 (lengths >= 4 only; the bits
    of lengths 1-3 are always set). A true length-L match passes both, so
    they filter only."""

    def __init__(self, symbols: list[bytes]):
        assert len(symbols) <= MAX_SYMBOLS
        self.symbols = symbols
        keys = [int.from_bytes(s, "big") for s in symbols]  # big-endian
        self._code_keys = np.array([0] + keys, dtype=np.uint64)
        self._slot_codes = np.zeros((MAX_LEN, 1 << 16), dtype=np.uint8)
        self._mult = np.zeros(MAX_LEN + 1, dtype=np.uint64)
        self._first2 = np.zeros(1 << 16, dtype=np.uint8)
        self._mid2 = np.full(1 << 16, 0b111, dtype=np.uint8)
        by_len: dict[int, dict[int, int]] = {}
        for c, (s, k) in enumerate(zip(symbols, keys)):
            by_len.setdefault(len(s), {}).setdefault(k, c)  # repeats: first
        for L, key_codes in by_len.items():
            keys = np.array(list(key_codes), dtype=np.uint64)
            for mult in _multipliers():
                with np.errstate(over="ignore"):
                    slots = ((keys * np.uint64(mult)) >> _U48).astype(np.intp)
                if len(np.unique(slots)) == len(keys):
                    break
            self._mult[L] = mult
            self._slot_codes[L - 1, slots] = [c + 1
                                              for c in key_codes.values()]
            bit = np.uint8(1 << (L - 1))
            if L == 1:
                self._first2.reshape(256, 256)[keys.astype(np.intp)] |= bit
            else:
                self._first2[(keys >> np.uint64(8 * (L - 2)))
                             .astype(np.intp)] |= bit
            if L >= 4:
                self._mid2[((keys >> np.uint64(8 * (L - 4))) & _U16)
                           .astype(np.intp)] |= bit
        self._lens = sorted(by_len, reverse=True)

    def serialize(self) -> bytes:
        out = bytearray([len(self.symbols)])
        out += bytes(len(s) for s in self.symbols)
        for s in self.symbols:
            out += s
        return bytes(out)

    @classmethod
    def deserialize(cls, buf, pos: int = 0) -> tuple["SymbolTable", int]:
        symbols, pos = _parse_header(buf, pos)
        return cls(symbols), pos

    def _lookup(self, L, grams: np.ndarray) -> np.ndarray:
        """Code + 1 of each of ``grams`` (keys of length ``L``, a scalar or
        one per gram); 0 where no symbol matches."""
        if np.ndim(L) == 0 and L <= 2:  # the identity slot: no key check
            return self._slot_codes[L - 1, grams.astype(np.intp)]
        with np.errstate(over="ignore"):
            slot = ((grams * self._mult[L]) >> _U48).astype(np.intp)
        slot += (L - 1) << 16
        code = self._slot_codes.reshape(-1)[slot]
        code[self._code_keys[code] != grams] = 0  # empty slots stay 0
        return code

    def match_all(self, data: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Longest-match (length, code) at every position; len 0 = no match.

        Dense: one prescreen gather over every position, then per length
        (longest first) a lookup at the positions that pass and no longer
        match claimed."""
        n = len(data)
        best_len = np.zeros(n, dtype=np.int8)
        best_code = np.zeros(n, dtype=np.uint8)
        if not self._lens:
            return best_len, best_code
        keys = _GramKeys(data)
        pad = keys._pad
        # 2-byte big-endian key of every position, over the zero pad
        two = pad[:n + 2].astype(np.intp)
        two <<= 8
        two |= pad[1:n + 3]
        cand = self._first2[two[:n]] & self._mid2[two[2:]]
        for L in self._lens:  # longest first
            m = n - L + 1
            if m <= 0:
                continue
            c = (cand[:m] & np.uint8(1 << (L - 1))).astype(bool)
            if L < MAX_LEN:
                c &= best_len[:m] == 0
            pos = np.flatnonzero(c)
            if len(pos) == 0:
                continue
            # gather-then-convert: only candidate positions pay the
            # unaligned BE load + byteswap
            code = self._lookup(L, keys._key8[pos].astype(np.uint64)
                                >> _SHIFT[L])
            hit = code != 0
            hp = pos[hit]
            best_len[hp] = L
            best_code[hp] = code[hit] - 1
        return best_len, best_code

    def match_at(self, keys: _GramKeys, pos: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray]:
        """Longest-match (length, code) at the ascending, non-empty
        positions ``pos`` of the data ``keys`` covers; len 0 = no match.

        Each position looks up its longest prescreened length first; only
        the positions it misses try their next one, so a position usually
        pays one lookup."""
        n = keys.n
        k8 = keys._key8[pos].astype(np.uint64)
        cand = (self._first2[(k8 >> _U48).astype(np.intp)]
                & self._mid2[((k8 >> _U32) & _U16).astype(np.intp)])
        if pos[-1] > n - MAX_LEN:  # near the end: only lengths that fit
            cand &= _FITS[np.minimum(n - pos, MAX_LEN)]
        best_len = np.zeros(len(pos), dtype=np.int8)
        best_code = np.zeros(len(pos), dtype=np.uint8)
        idx = np.flatnonzero(cand)
        k8, cand = k8[idx], cand[idx]
        while len(idx):
            L = _TOP[cand]
            code = self._lookup(L, k8 >> _SHIFT[L])
            hit = code != 0
            best_len[idx[hit]] = L[hit]
            best_code[idx[hit]] = code[hit] - 1
            cand &= _CLEAR[L]
            left = np.flatnonzero(~hit & (cand != 0))
            idx, k8, cand = idx[left], k8[left], cand[left]
        return best_len, best_code


def _token_starts(best_len: np.ndarray) -> np.ndarray:
    """Greedy left-to-right token starts from every position's longest
    match: the cursor loop of the dense path (see _dense_tokens).
    It advances one token (avg several bytes) per step, ~160 ns each."""
    n = len(best_len)
    if not best_len.any():
        # no symbol matches anywhere (e.g. the empty table of build_table's
        # first iteration): every byte is its own token
        return np.arange(n, dtype=np.int64)
    out = []
    append = out.append
    st = np.maximum(best_len, 1).tolist()
    i = 0
    while i < n:
        append(i)
        i += st[i]
    return np.array(out, dtype=np.int64)


def _block_walk(data: np.ndarray, table: SymbolTable,
                block: int | None = None
                ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Greedy tokens (starts, lengths, codes; length 0 = escape) of
    ``data``, looking symbols up only at the positions a walk visits.

    1. Walk: one walker per ``block``-byte block starts at the block start
       and steps token by token until it leaves the block; all walkers
       advance together, one ``match_at`` per step. Each recorded path is
       a fact: from any position on it, the greedy path leaves the block
       where that path left it.
    2. Fix-up: the true path enters block b where it left block b-1 (block
       0 at 0). An entry on a recorded path of block b leaves where that
       path left. Otherwise b is re-walked from its entry until it lands on
       a recorded path (greedy paths that share a position coincide from
       there on) or leaves the block, where it may enter block b+1
       elsewhere: b+1 is fixed up again in the next round. Rounds run
       vectorized over the blocks whose entry moved. A cascade still
       moving after ``_MAX_ROUNDS`` (periodic data whose walkers stay out
       of phase) is followed block by block over the recorded paths, and
       the dense path takes over where none is recorded.
    3. The starts are walker b's positions from where the true path joins
       it, and the true path's positions before that, traced from each
       block's entry over the recorded matches."""
    n = len(data)
    keys = _GramKeys(data)
    if block is None:
        ln, _ = table.match_at(keys, np.arange(0, n, -(-n // _SIZE_PROBES)))
        block = int(np.clip(_BLOCK_TOKENS * np.maximum(ln, 1).mean(),
                            *_BLOCK_RANGE))
    n_blocks = -(-n // block)
    first = np.arange(n_blocks, dtype=np.int64) * block
    bound = np.minimum(first + block, n)
    tok_len = np.zeros(n, dtype=np.int8)  # match at every visited position
    tok_code = np.zeros(n, dtype=np.uint8)
    # the recorded paths: walker b's positions, and each re-walk's id at
    # its positions; where each path leaves its block
    walked = np.zeros(n + MAX_LEN, dtype=bool)
    path = np.full(n + MAX_LEN, -1, dtype=np.int32)
    path_exit = np.empty(n_blocks * _MAX_ROUNDS, dtype=np.int64)
    n_paths = 0

    def leaves(pos):
        """Where the recorded path through each of ``pos`` leaves its
        block; -1 where no path is recorded."""
        on = path[pos]
        return np.where(walked[pos], walker_exit[pos // block],
                        np.where(on >= 0, path_exit[on], -1))

    def walk(cur, blk, rewalk):
        """Walk from ``cur`` (in blocks ``blk``) in lockstep, each walker
        until it leaves its block or, re-walking, lands on a recorded
        path. Returns where each one's path leaves its block."""
        nonlocal n_paths
        left_at = np.empty(len(cur), dtype=np.int64)
        idx = np.arange(len(cur))
        end = bound[blk]
        while len(cur):
            ln, code = table.match_at(keys, cur)
            tok_len[cur] = ln
            tok_code[cur] = code
            if rewalk:
                path[cur] = n_paths + idx
            else:
                walked[cur] = True
            cur = cur + np.maximum(ln, 1)
            stop = cur >= end
            if rewalk:
                joined = ~stop & (walked[cur] | (path[cur] >= 0))
                stop |= joined
            if stop.any():
                at = cur[stop]
                if rewalk:
                    j = joined[stop]
                    at[j] = leaves(at[j])
                left_at[idx[stop]] = at
                go = ~stop
                cur, end, idx = cur[go], end[go], idx[go]
        if rewalk:
            path_exit[n_paths:n_paths + len(blk)] = left_at
            n_paths += len(blk)
        return left_at

    walker_exit = walk(first, np.arange(n_blocks), False)
    entry = np.concatenate(([0], walker_exit[:-1]))
    exit_ = walker_exit.copy()
    todo = np.arange(1, n_blocks)
    for _ in range(_MAX_ROUNDS):
        if not len(todo):
            break
        e = entry[todo]
        new_exit = leaves(e)
        unknown = new_exit < 0
        new_exit[unknown] = e[unknown]  # an entry past the end leaves there
        w = np.flatnonzero(unknown & (e < bound[todo]))
        if len(w):
            new_exit[w] = walk(e[w], todo[w], True)
        moved = new_exit != exit_[todo]
        exit_[todo] = new_exit
        todo = todo[moved] + 1
        todo = todo[todo < n_blocks]
        entry[todo] = exit_[todo - 1]
    dense = [first[:0]]
    if len(todo):
        b, e = int(todo[0]), int(entry[todo[0]])
        while b < n_blocks:
            entry[b] = e
            if walked[e]:
                e = int(walker_exit[e // block])
            elif path[e] >= 0:
                e = int(path_exit[path[e]])
            elif e < bound[b]:
                # nothing recorded here: the dense path over the next
                # _DENSE_WINDOW bytes (its traces are empty: entry = bound)
                upto = min(b + max(_DENSE_WINDOW // block, 1), n_blocks)
                stop = int(bound[upto - 1])
                s, ln, code = _dense_tokens(data[e:stop + MAX_LEN - 1],
                                            table)
                keep = s < stop - e
                s = s[keep] + e
                tok_len[s], tok_code[s] = ln[keep], code[keep]
                dense.append(s)
                entry[b:upto] = bound[b:upto]
                e = int(s[-1]) + max(int(tok_len[s[-1]]), 1)
                b = upto
                continue
            b += 1
    # trace each block's true path from its entry until it joins walker b
    # or leaves the block; walker b's positions before the join are false
    blk = np.arange(n_blocks)
    cur, join_at = entry, bound.copy()
    traced = dense
    while len(cur):
        inside = cur < bound[blk]
        own = inside & walked[cur]
        join_at[blk[own]] = cur[own]
        go = inside & ~own
        cur, blk = cur[go], blk[go]
        traced.append(cur)
        cur = cur + np.maximum(tok_len[cur], 1)
    lens = join_at - first
    off = np.cumsum(lens) - lens
    walked[np.repeat(first - off, lens) + np.arange(int(lens.sum()))] = False
    walked[np.concatenate(traced)] = True
    starts = np.flatnonzero(walked[:n])
    return starts, tok_len[starts], tok_code[starts]


def _dense_tokens(data: np.ndarray, table: SymbolTable
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Greedy tokens (starts, lengths, codes; length 0 = escape) of
    ``data`` from the longest match at every position and the cursor
    loop."""
    best_len, best_code = table.match_all(data)
    starts = _token_starts(best_len)
    return starts, best_len[starts], best_code[starts]


def _greedy_tokens(data: np.ndarray, table: SymbolTable
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Greedy tokens of ``data`` under ``table``: dense up to
    ``_WALK_MIN`` bytes, the block walk above it."""
    if len(data) > _WALK_MIN:
        return _block_walk(data, table)
    return _dense_tokens(data, table)


def _greedy_encode(data: np.ndarray, table: SymbolTable) -> np.ndarray:
    """Emit code stream (escapes expanded) for ``data`` under ``table``:
    tokens from _greedy_tokens, bytes written in one vectorized pass."""
    if len(data) == 0:
        return np.zeros(0, dtype=np.uint8)
    starts, tok_len, tok_code = _greedy_tokens(data, table)
    is_esc = tok_len == 0
    out_sizes = np.where(is_esc, 2, 1)
    offsets = np.zeros(len(starts), dtype=np.int64)
    np.cumsum(out_sizes[:-1], out=offsets[1:])
    out = np.empty(int(out_sizes.sum()), dtype=np.uint8)
    out[offsets] = np.where(is_esc, ESCAPE, tok_code)
    esc_off = offsets[is_esc]
    out[esc_off + 1] = data[starts[is_esc]]
    return out


def _emitted_tokens(data: np.ndarray, table: SymbolTable) -> tuple[np.ndarray, np.ndarray]:
    """(starts, lengths) of emitted tokens (symbol match or escape)."""
    starts, tok_len, _ = _greedy_tokens(data, table)
    return starts, np.maximum(tok_len, 1)


def build_table(data: np.ndarray, sample: int = _SAMPLE) -> SymbolTable:
    """Deterministic iterative table construction on a bounded sample."""
    if len(data) > sample:
        # 8 contiguous chunks, evenly spaced, for representativeness
        n_chunks = 8
        chunk = sample // n_chunks
        stride = len(data) // n_chunks
        data = np.concatenate([data[i * stride:i * stride + chunk] for i in range(n_chunks)])
    table = SymbolTable([])
    if len(data) == 0:
        return table  # nothing to sample; the reference loop ends here too
    key8 = _GramKeys(data)._key8
    for _ in range(_ITERATIONS):
        starts, lens = _emitted_tokens(data, table)
        if len(starts) == 0:
            continue
        # candidate symbols = every emitted token + every adjacent-token
        # concatenation of <=8 bytes, scored by bytes covered. Instead of a
        # per-token Python dict over byte slices, each candidate is its
        # ZERO-PADDED 8-byte big-endian key + length: (key, len) ascending
        # orders exactly like the raw bytes (padding is zeros, and a
        # shorter symbol that is a prefix of a longer one shares the key,
        # where len breaks the tie the same way lexicographic order does),
        # so grouping + scoring + the deterministic (-gain, symbol)
        # tie-break all vectorize. Same candidates, same scores, same
        # table — pinned byte-exact by tests against the dict loop.
        lens64 = lens.astype(np.uint64)
        shift = (np.uint64(8) - lens64) * np.uint64(8)
        tok_keys = (key8[starts].astype(np.uint64) >> shift) << shift
        # greedy tokens are contiguous, so cat length = lens[j] + lens[j+1]
        cat_len = lens[:-1] + lens[1:]
        j = np.flatnonzero(cat_len <= MAX_LEN)
        clen64 = cat_len[j].astype(np.uint64)
        cshift = (np.uint64(8) - clen64) * np.uint64(8)
        cat_keys = (key8[starts[j]].astype(np.uint64) >> cshift) << cshift
        all_keys = np.concatenate([tok_keys, cat_keys])
        all_lens = np.concatenate([lens64, clen64])
        order = np.lexsort((all_lens, all_keys))
        ks, ls = all_keys[order], all_lens[order]
        new_run = np.ones(len(ks), dtype=bool)
        new_run[1:] = (ks[1:] != ks[:-1]) | (ls[1:] != ls[:-1])
        seg = np.flatnonzero(new_run)
        gains = np.add.reduceat(ls.astype(np.int64), seg)
        u_keys, u_lens = ks[seg], ls[seg]
        # gain = bytes covered (paper's freq*len); deterministic tie-break
        top = np.lexsort((u_lens, u_keys, -gains))[:MAX_SYMBOLS]
        table = SymbolTable([
            int(u_keys[i]).to_bytes(8, "big")[: int(u_lens[i])]
            for i in top])
    return table


def encode(blob: bytes) -> bytes:
    """Compress a byte blob: serialized table + code stream."""
    data = np.frombuffer(blob, dtype=np.uint8)
    table = build_table(data)
    codes = _greedy_encode(data, table)
    return table.serialize() + codes.tobytes()


def decode(buf, out_size: int) -> bytes:
    """Decompress to exactly ``out_size`` bytes (fully vectorized)."""
    symbols, pos = _parse_header(buf, 0)
    codes = np.frombuffer(buf, dtype=np.uint8, offset=pos)
    if out_size == 0:
        return b""
    # build (256, 8) symbol matrix + length vector
    mat = np.zeros((256, MAX_LEN), dtype=np.uint8)
    lens = np.zeros(256, dtype=np.int64)
    for c, s in enumerate(symbols):
        mat[c, :len(s)] = np.frombuffer(s, dtype=np.uint8)
        lens[c] = len(s)
    # escapes: code 255 followed by a literal byte. A literal byte may itself
    # be 255, but every maximal run of consecutive 255s starts with an escape,
    # so within a run the escapes sit at even offsets.
    pos255 = np.flatnonzero(codes == ESCAPE)
    if len(pos255):
        run_start_mask = np.diff(pos255, prepend=-2) != 1
        run_starts = pos255[run_start_mask]
        run_idx = np.cumsum(run_start_mask) - 1
        esc_pos = pos255[(pos255 - run_starts[run_idx]) % 2 == 0]
    else:
        esc_pos = pos255
    if len(esc_pos) and esc_pos[-1] + 1 >= len(codes):
        raise ValueError("FSST stream ends with a dangling escape")
    is_esc = np.zeros(len(codes), dtype=bool)
    is_esc[esc_pos] = True
    keep = np.ones(len(codes), dtype=bool)
    keep[esc_pos + 1] = False  # literal bytes are not tokens
    tok_codes = codes[keep].astype(np.int64)
    tok_is_esc = is_esc[keep]
    literals = codes[esc_pos + 1]
    out_lens = lens[tok_codes]
    out_lens[tok_is_esc] = 1
    rows = mat[tok_codes]
    if tok_is_esc.any():
        rows = rows.copy()
        rows[tok_is_esc, 0] = literals
    mask = np.arange(MAX_LEN) < out_lens[:, None]
    out = rows[mask]
    if len(out) != out_size:
        raise ValueError(f"FSST decode size mismatch: {len(out)} != {out_size}")
    return out.tobytes()
