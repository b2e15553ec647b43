"""FSST-style string compression: tiny static symbol table, byte-exact.

Simplified variant of "FSST: Fast Random Access String Compression"
(Boncz, Neumann, Leis — VLDB 2020, public paper; see PAPERS.md): up to 254
symbols of 1-8 bytes learned from a sample by iterative greedy refinement,
encoding is greedy longest-match, code 0xFF escapes a literal byte.  Exactness
(decode(encode(s)) == s for arbitrary bytes) is the only hard requirement here
(SURVEY.md §7.2 — FSST is the one codec with no reference semantics, so it is
selector-optional and exactness-tested).  Encode and decode are whole-buffer
numpy kernels (see :class:`SymbolTable`) — our stand-in for the paper's SIMD
inner loop; the byte-at-a-time definitions survive as ``_encode_scalar`` /
``_decode_scalar`` reference models, hypothesis-tested byte-identical.

The engine composes it as the real systems do: string columns are first
dictionary-encoded (unique strings + bit-packed indices), and FSST compresses
only the dictionary payload — ndv strings, not n rows.
"""

from __future__ import annotations

import numpy as np

ESCAPE = 0xFF
MAX_SYMBOLS = 254  # codes 0..253; 0xFE unused/reserved; 0xFF = escape
MAX_SYMBOL_LEN = 8


def train_symbols(sample: bytes, rounds: int = 4, max_sample: int = 1 << 16) -> list[bytes]:
    """Learn a symbol table from a byte sample by iterative pair-merging.

    Round 0 seeds with frequent single bytes; each later round re-encodes the
    sample with the current table and counts concatenations of adjacent
    matches, keeping the most valuable (frequency x saved bytes) symbols.
    Deterministic: ties break lexicographically.
    """
    sample = sample[:max_sample]
    if not sample:
        return []
    counts: dict[bytes, int] = {}
    arr = np.frombuffer(sample, dtype=np.uint8)
    vals, freq = np.unique(arr, return_counts=True)
    order = sorted(zip(freq.tolist(), vals.tolist()), key=lambda t: (-t[0], t[1]))
    symbols = [bytes([v]) for _, v in order[:MAX_SYMBOLS]]
    for _ in range(rounds):
        table = {s: i for i, s in enumerate(symbols)}
        # greedy parse of the sample with the current table
        parsed: list[bytes] = []
        i = 0
        n = len(sample)
        while i < n:
            match = None
            for ln in range(min(MAX_SYMBOL_LEN, n - i), 0, -1):
                cand = sample[i:i + ln]
                if cand in table:
                    match = cand
                    break
            if match is None:
                match = sample[i:i + 1]
            parsed.append(match)
            i += len(match)
        counts.clear()
        for s in parsed:
            counts[s] = counts.get(s, 0) + 1
        for a, b in zip(parsed, parsed[1:]):
            merged = a + b
            if len(merged) <= MAX_SYMBOL_LEN:
                counts[merged] = counts.get(merged, 0) + 1
        gain = sorted(
            counts.items(),
            key=lambda kv: (-(kv[1] * (len(kv[0]) - 1)), kv[0]),
        )
        keep = [s for s, c in gain if c > 1 and len(s) >= 2][: MAX_SYMBOLS - 64]
        # always keep the 64 most frequent single bytes as fallbacks
        singles = [s for s, _ in sorted(
            ((bytes([v]), c) for v, c in zip(vals.tolist(), freq.tolist())),
            key=lambda kv: (-kv[1], kv[0]),
        )][:64]
        symbols = sorted(set(keep) | set(singles))[:MAX_SYMBOLS]
    return symbols


class SymbolTable:
    """Greedy longest-match encoder over a fixed symbol list.

    Encode/decode are numpy-vectorized (whole-buffer passes, no per-byte
    Python): candidate matches come from one rolling big-endian uint64 key
    per position searched against per-length sorted key tables, the greedy
    parse positions come from a pointer-doubling orbit walk over the
    next-position array, and decode classifies token starts with the
    escape-parity rule.  ``_encode_scalar``/``_decode_scalar`` keep the
    original byte-at-a-time definitions as the tested reference models."""

    def __init__(self, symbols: list[bytes]):
        if len(symbols) > MAX_SYMBOLS:
            raise ValueError("too many symbols")
        self.symbols = list(symbols)
        for sym in self.symbols:
            if not 1 <= len(sym) <= MAX_SYMBOL_LEN:
                raise ValueError("symbol length out of range")
        # flattened symbol payload + offsets for the vectorized decode gather
        self._sym_lens = np.array(
            [len(s) for s in self.symbols], dtype=np.int64
        )
        self._sym_offs = np.zeros(len(self.symbols) + 1, dtype=np.int64)
        np.cumsum(self._sym_lens, out=self._sym_offs[1:])
        self._sym_payload = np.frombuffer(
            b"".join(self.symbols), dtype=np.uint8
        ) if self.symbols else np.empty(0, np.uint8)
        # the longest-match tables only encode needs: built on first use,
        # so a decode-only table (one per dictionary block on the query
        # path) skips them
        self._by_prefix: dict[int, list[tuple[bytes, int]]] | None = None

    @property
    def by_prefix(self) -> dict[int, list[tuple[bytes, int]]]:
        if self._by_prefix is None:
            self._build_encode_tables()
        return self._by_prefix

    def _build_encode_tables(self) -> None:
        by_prefix: dict[int, list[tuple[bytes, int]]] = {}
        for code, sym in enumerate(self.symbols):
            # longest-first candidate list per leading byte
            by_prefix.setdefault(sym[0], []).append((sym, code))
        for cands in by_prefix.values():
            cands.sort(key=lambda t: -len(t[0]))
        # Laminar interval table for the vectorized longest-match: symbol s of
        # length L matches position i iff the big-endian 8-byte key at i lies
        # in [key(s) << 8(8-L), same + 2^(8(8-L)) - 1].  Prefix-nesting makes
        # the family laminar, so ONE searchsorted finds the deepest candidate
        # and the longest true match is on its ancestor (proper-prefix) chain.
        # Duplicate symbols (not produced by train_symbols, but legal input)
        # keep the LOWEST code, matching the scalar longest-first scan.
        dedup: dict[bytes, int] = {}
        for code, sym in enumerate(self.symbols):
            dedup.setdefault(sym, code)
        # sort by (low, length): equal lows (prefix + its 0x00-extensions)
        # put the LONGEST LAST so searchsorted-right lands on the deepest
        ordered = sorted(dedup, key=lambda s: (int.from_bytes(s, "big")
                                              << (8 * (8 - len(s))), len(s)))
        m = len(ordered)
        self._ent_low = np.zeros(m, dtype=np.uint64)
        self._ent_high = np.zeros(m, dtype=np.uint64)
        self._ent_len = np.zeros(m, dtype=np.int64)
        self._ent_code = np.zeros(m, dtype=np.int64)
        self._ent_parent = np.full(m, -1, dtype=np.int64)
        index_of = {s: i for i, s in enumerate(ordered)}
        for i, s in enumerate(ordered):
            ln = len(s)
            low = int.from_bytes(s, "big") << (8 * (8 - ln))
            self._ent_low[i] = low
            self._ent_high[i] = low + ((1 << (8 * (8 - ln))) - 1)
            self._ent_len[i] = ln
            self._ent_code[i] = dedup[s]
            for pl in range(ln - 1, 0, -1):  # longest proper prefix present
                p = index_of.get(s[:pl])
                if p is not None:
                    self._ent_parent[i] = p
                    break
        self._by_prefix = by_prefix

    _ORBIT_BLOCK = 256

    def encode(self, data: bytes) -> bytes:
        n = len(data)
        if n == 0:
            return b""
        if self._by_prefix is None:
            self._build_encode_tables()
        arr = np.frombuffer(bytes(data), dtype=np.uint8)
        # rolling big-endian key: K[i] = uint64 of data[i:i+8], zero-padded
        ext = np.zeros(n + 7, dtype=np.uint64)
        ext[:n] = arr
        big = np.zeros(n, dtype=np.uint64)
        for j in range(8):
            big |= ext[j:j + n] << np.uint64(8 * (7 - j))
        # longest match per position: one searchsorted into the laminar
        # interval table, then at most MAX_SYMBOL_LEN ancestor steps on the
        # shrinking unresolved set (typically 0-2)
        best_len = np.zeros(n, dtype=np.int64)
        best_code = np.zeros(n, dtype=np.int64)
        if self._ent_low.size:
            cand = np.searchsorted(self._ent_low, big, side="right") - 1
            unresolved = np.flatnonzero(cand >= 0)
            cand = cand[unresolved]
            for _ in range(MAX_SYMBOL_LEN):
                if not unresolved.size:
                    break
                ln = self._ent_len[cand]
                # a symbol only matches where it fully fits (zero padding
                # past the end must never satisfy a trailing-0x00 symbol)
                ok = (self._ent_high[cand] >= big[unresolved]) & (
                    unresolved <= n - ln
                )
                hit = unresolved[ok]
                best_len[hit] = ln[ok]
                best_code[hit] = self._ent_code[cand[ok]]
                cand = self._ent_parent[cand[~ok]]
                unresolved = unresolved[~ok]
                alive = cand >= 0
                cand = cand[alive]
                unresolved = unresolved[alive]
        # greedy parse positions: orbit of 0 under i -> i + step(i).  Steps
        # are <= 8, so the parse enters each B-byte block at one of its first
        # 8 offsets; simulate all 8 entry chains of every block at once
        # (vectorized across blocks), stitch the per-block (exit, count)
        # tables sequentially (n/B cheap Python steps), then re-walk each
        # block's one true chain — all gathers, O(n) total.
        step = np.where(best_len > 0, best_len, 1)
        B = self._ORBIT_BLOCK
        nblocks = (n + B - 1) // B
        step_ext = np.concatenate([step, np.ones(8 + B, dtype=np.int64)])
        # phase A: exits and token counts for every (block, entry offset)
        pos = (
            np.arange(nblocks, dtype=np.int64)[:, None] * B
            + np.arange(8, dtype=np.int64)[None, :]
        ).ravel()
        ends = np.repeat(
            np.minimum((np.arange(nblocks, dtype=np.int64) + 1) * B, n), 8
        )
        exit_pos = pos.copy()
        counts = np.zeros(pos.size, dtype=np.int64)
        act = np.flatnonzero(exit_pos < ends)
        while act.size:
            exit_pos[act] += step_ext[exit_pos[act]]
            counts[act] += 1
            act = act[exit_pos[act] < ends[act]]
        exit_pos = exit_pos.reshape(nblocks, 8)
        counts = counts.reshape(nblocks, 8)
        # phase B: stitch blocks — the real entry of block b+1 is block b's
        # exit; record each block's true entry and its token-offset
        entries = np.zeros(nblocks, dtype=np.int64)
        tok_off = np.zeros(nblocks, dtype=np.int64)
        cur, total, b = 0, 0, 0
        while b < nblocks:
            entries[b] = cur
            tok_off[b] = total
            e = cur - b * B
            total += int(counts[b, e])
            cur = int(exit_pos[b, e])
            b = cur // B if cur < n else nblocks
        # blocks the parse jumps clean over (possible only for the 0-count
        # tail of a token) keep entry=0/off=0 but emit nothing
        n_tok = total
        # phase C: emit token positions — walk every block's true chain in
        # lockstep; iteration k scatters each active block's k-th token
        emit = np.empty(n_tok, dtype=np.int64)
        pos = entries.copy()
        bend = np.minimum((np.arange(nblocks, dtype=np.int64) + 1) * B, n)
        base = tok_off.copy()
        act = np.flatnonzero(
            (pos < bend) & (pos >= np.arange(nblocks, dtype=np.int64) * B)
        )
        # a jumped-over block's recorded entry may belong to a later block;
        # the entry >= b*B check drops it (it owns no tokens)
        while act.size:
            emit[base[act]] = pos[act]
            base[act] += 1
            pos[act] += step_ext[pos[act]]
            act = act[pos[act] < bend[act]]
        is_esc = best_len[emit] == 0
        out_sz = np.where(is_esc, 2, 1)
        offs = np.cumsum(out_sz) - out_sz
        out = np.empty(int(offs[-1] + out_sz[-1]) if n_tok else 0,
                       dtype=np.uint8)
        hit_pos = offs[~is_esc]
        out[hit_pos] = best_code[emit[~is_esc]]
        esc_pos = offs[is_esc]
        out[esc_pos] = ESCAPE
        out[esc_pos + 1] = arr[emit[is_esc]]
        return out.tobytes()

    def decode(self, data: bytes) -> bytes:
        n = len(data)
        if n == 0:
            return b""
        enc = np.frombuffer(bytes(data), dtype=np.uint8)
        # escape-parity rule: position i starts a token iff the number of
        # consecutive 0xFF bytes immediately before i is even (the byte
        # before a maximal 0xFF-run always ENDS a token, so the run's first
        # 0xFF starts one; escapes then consume the run pairwise)
        is_ff = enc == ESCAPE
        # g[i] = length of the 0xFF run ending AT i; run[i] = g[i-1] is then
        # the count of consecutive 0xFF bytes immediately before i
        c = np.cumsum(is_ff.astype(np.int64))
        g = c - np.maximum.accumulate(np.where(~is_ff, c, 0))
        run = np.zeros(n, dtype=np.int64)
        run[1:] = g[:-1]
        starts = np.flatnonzero((run & 1) == 0)
        start_is_esc = is_ff[starts]
        if start_is_esc.any() and int(starts[start_is_esc][-1]) + 1 >= n:
            raise IndexError("truncated escape at end of FSST payload")
        codes = enc[starts].astype(np.int64)
        safe_codes = np.where(start_is_esc, 0, codes)
        if (~start_is_esc).any():
            if int(safe_codes.max()) >= len(self.symbols):
                raise IndexError("code byte outside the symbol table")
        if self._sym_lens.size:
            sym_l = self._sym_lens[safe_codes]
            sym_o = self._sym_offs[safe_codes]
        else:
            sym_l = np.zeros(starts.size, dtype=np.int64)
            sym_o = sym_l
        lens_out = np.where(start_is_esc, 1, sym_l)
        # one combined source buffer (symbol payload ++ encoded bytes) so a
        # single gather serves both code tokens and escaped literals
        combined = np.concatenate([self._sym_payload, enc])
        src_start = np.where(
            start_is_esc, self._sym_payload.size + starts + 1, sym_o
        )
        total = int(lens_out.sum())
        out_offs = np.cumsum(lens_out) - lens_out
        within = np.arange(total, dtype=np.int64) - np.repeat(
            out_offs, lens_out
        )
        out = combined[np.repeat(src_start, lens_out) + within]
        return out.tobytes()

    def _encode_scalar(self, data: bytes) -> bytes:
        """Reference byte-at-a-time encoder (tests only)."""
        out = bytearray()
        i = 0
        n = len(data)
        view = bytes(data)
        while i < n:
            for sym, code in self.by_prefix.get(view[i], ()):
                if view.startswith(sym, i):
                    out.append(code)
                    i += len(sym)
                    break
            else:
                out.append(ESCAPE)
                out.append(view[i])
                i += 1
        return bytes(out)

    def _decode_scalar(self, data: bytes) -> bytes:
        """Reference byte-at-a-time decoder (tests only)."""
        out = bytearray()
        i = 0
        n = len(data)
        while i < n:
            c = data[i]
            if c == ESCAPE:
                out.append(data[i + 1])
                i += 2
            else:
                out += self.symbols[c]
                i += 1
        return bytes(out)


def serialize_table(symbols: list[bytes]) -> bytes:
    out = bytearray([len(symbols)])
    for s in symbols:
        out.append(len(s))
        out += s
    return bytes(out)


def deserialize_table(buf: bytes, pos: int = 0) -> tuple[SymbolTable, int]:
    n = buf[pos]
    pos += 1
    symbols = []
    for _ in range(n):
        ln = buf[pos]
        pos += 1
        symbols.append(bytes(buf[pos:pos + ln]))
        pos += ln
    return SymbolTable(symbols), pos


# Two-byte marker for an external-table blob.  Unambiguous vs the embedded
# layout: there blob[0] is the symbol count (0..254) and blob[1] a symbol
# LENGTH (1..8), so 0xFE at blob[1] can never occur; vs raw, blob[0]=0xFF.
EXTERNAL_MARKER = bytes([0xFE, 0xFE])


def compress(
    data: bytes, symbols: list[bytes] | None = None, embed_table: bool = True
) -> bytes:
    """Compress ``data``; self-contained blob by default.

    With ``symbols`` given and ``embed_table=False``, the blob carries only
    the encoded payload behind :data:`EXTERNAL_MARKER` — the caller owns the
    table (corpus metadata, e.g. trained once by a sampling pass and recorded
    in the dataset manifest).  That amortizes the per-blob table bytes across
    every chunk of the corpus and makes equal payloads encode to equal bytes
    regardless of which chunk they land in.  Incompressible data falls back
    to the raw marker either way (still self-contained).
    """
    if symbols is None:
        symbols = train_symbols(data)
    st = SymbolTable(symbols)
    enc = st.encode(data)
    prefix = EXTERNAL_MARKER if not embed_table else serialize_table(symbols)
    if len(enc) + len(prefix) >= len(data) + 1:  # raw, marker 0xFF
        return bytes([ESCAPE]) + data
    return prefix + enc


def decompress(blob: bytes, symbols: list[bytes] | None = None) -> bytes:
    if not blob:
        return b""
    if blob[0] == ESCAPE:
        return bytes(blob[1:])
    if blob[:2] == EXTERNAL_MARKER:
        if symbols is None:
            raise ValueError(
                "external-table FSST blob: pass the corpus symbol table"
            )
        return SymbolTable(symbols).decode(blob[2:])
    st, pos = deserialize_table(blob)
    return st.decode(blob[pos:])
