"""Per-column table encode on the python-native files plane.

:mod:`rlv.table` runs the per-column engine through the JVM (dense-rank
windows + ``collect_list``); this module lifts the same semantics onto the
zero-shuffle pyarrow plane (:mod:`rlv.engine_files`): the driver plans
row-group splits, each Spark task reads its rows with pyarrow, sorts them by
``order_col``, cuts every column into ``rows_per_block``-row blocks, and runs
the exact-size auto-selector per (column, block) — the north rule's
*per-column* engine (generic-``A`` columns, rl_encoding.v:2145-2486) on the
engine's best data plane.  No token or value ever crosses the network; the
only driver IO is parquet footers and the manifest.

Wire layout under ``out_dir``:

* ``blocks/{split_id}.parquet`` — one row per (column, block):
  ``(split_seq, col_name, block_idx, n_values, n_nulls, n_runs, codec_id,
  enc_bytes, naive_bytes, min_val, max_val, sum_val, block)``.  ``min_val``/
  ``max_val`` are the block's zone map over its VALID values (r4) — the
  block-skipping statistic :func:`scan_table_files` prunes on — and
  ``sum_val`` their exact decimal(38,0) sum, the stat that serves
  full-matching aggregate blocks without a payload read.  String columns contribute their
  per-block dense-code stream (codes = rank of the value among the block's
  sorted distinct VALID values) through the INT codecs — parquet's
  dictionary-page / data-page split, same as
  :func:`rlv.table.encode_table_columns`.  A block containing NULLs wraps
  its chosen block in the NULLW validity bitmap (``rlv.blocks
  .wrap_nullable``); blocks without NULLs are byte-identical to the
  unwrapped format.  ``split_seq`` is the originating split id — constant
  within a freshly-encoded file, and the key that keeps every absorbed
  split's (col_name, block_idx) rows addressable after
  :func:`rlv.engine_files.compact_blocks` merges files.
* ``strings/{split_id}.parquet`` — one row per (string column, block):
  ``(split_seq, col_name, block_idx, ndv, raw_bytes, enc_bytes,
  dict_block)`` where ``dict_block`` is a STRDICT block of the block's
  sorted distinct valid values.  Dict bytes are accounted separately from
  ``bytes_out`` (the token plane's sidecar discipline), so the manifest
  budget ``bytes_out <= naive_rle_bytes`` is structural, not
  data-dependent.
* ``manifest/`` — the standard split manifest (resume/idempotency identical
  to the token plane: deterministic split ids, atomic renames, byte-identical
  retries) plus ``table_schema.json`` recording the encoded schema.

Blocks never span splits and runs never span blocks (parquet row-group
discipline), so decode is embarrassingly parallel per blocks file and the
whole table reconstructs bit-identically (:func:`decode_table_files`).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from rlv import engine_files
from rlv.engine_files import _rgs_by_file, _symbol_list

TABLE_RESULT_SCHEMA = (
    "split_id string, n_docs bigint, n_tokens bigint, n_runs bigint, "
    "bytes_out bigint, naive_rle_bytes bigint, codec_hist string, "
    "encode_cpu_ns bigint, n_nulls bigint, dict_bytes bigint"
)

DECODE_RESULT_SCHEMA = "file string, n_rows bigint, n_cols int"


def _schema_path(out_dir: str) -> str:
    return f"{out_dir}/manifest/table_schema.json"


_INT_TYPE_ALIASES = {"int8", "int16", "int32", "int64",
                     "uint8", "uint16", "uint32"}

# Logical source types the int64 plane represents via an ORDER-PRESERVING
# lossless mapping (so zone maps, range predicates, top-k and min/max all
# stay valid on the mapped keys):
#   * timestamps (any unit, with or without tz) and dates — the epoch
#     integer Arrow already defines (cast both ways);
#   * float32/float64 — the IEEE-754 total-order key: non-negative bit
#     patterns map to themselves, negative ones reflect
#     (k = -1 - i - 2^63, a self-inverse), so key order == totalOrder
#     (-NaN < -inf < ... < -0 < +0 < ... < +inf < NaN) and every bit
#     pattern (NaN payloads, -0.0) round-trips exactly.
_TS_ALIAS_RE = None  # compiled lazily (workers import this module cold)


def _ts_alias_parts(alias: str):
    """(unit, tz|None) if ``alias`` is a timestamp type string else None."""
    global _TS_ALIAS_RE
    if _TS_ALIAS_RE is None:
        import re

        _TS_ALIAS_RE = re.compile(
            r"^timestamp\[(s|ms|us|ns)(?:, tz=(.+))?\]$"
        )
    m = _TS_ALIAS_RE.match(alias)
    return (m.group(1), m.group(2)) if m else None


def _plane_kind(alias: str | None) -> str:
    """How a recorded source alias rides the int64 plane: ``int`` (plain
    checked cast), ``epoch`` (timestamp/date — Arrow epoch-integer cast),
    ``f32``/``f64`` (total-order float keys), or ``dec`` (float source
    declared decimal at a fixed scale — stored as the exact scaled
    integers, so sums push down exactly)."""
    if alias is None or alias in _INT_TYPE_ALIASES or alias == "int64":
        return "int"
    if _ts_alias_parts(alias) or alias in ("date32[day]", "date64[ms]"):
        return "epoch"
    if alias == "float":
        return "f32"
    if alias == "double":
        return "f64"
    if _dec_alias_parts(alias):
        return "dec"
    return "int"


def _dec_alias_parts(alias: str) -> tuple[int, str] | None:
    """(scale, source float alias) if ``alias`` is a decimal-declared
    float column (``dec<scale>:float`` / ``dec<scale>:double``)."""
    if not alias.startswith("dec"):
        return None
    head, _, src = alias.partition(":")
    if src not in ("float", "double") or not head[3:].isdigit():
        return None
    return int(head[3:]), src


def _arrow_type_of_alias(alias: str):
    """Arrow type a recorded alias decodes back to."""
    import pyarrow as pa

    ts = _ts_alias_parts(alias)
    if ts:
        return pa.timestamp(ts[0], tz=ts[1])
    dec = _dec_alias_parts(alias)
    if dec:
        return pa.type_for_alias(dec[1])
    return pa.type_for_alias(alias)


def _f64_keys_involution(k: np.ndarray) -> np.ndarray:
    """Self-inverse int64 map: identity on >= 0, reflection
    ``-1 - k - 2^63`` (== ``~k XOR msb``, overflow-free) on < 0."""
    k = np.asarray(k, np.int64)
    refl = np.bitwise_xor(np.bitwise_not(k), np.int64(-(2 ** 63)))
    return np.where(k >= 0, k, refl)


def _f32_keys_involution(k32: np.ndarray) -> np.ndarray:
    k32 = np.asarray(k32, np.int32)
    refl = np.bitwise_xor(np.bitwise_not(k32), np.int32(-(2 ** 31)))
    return np.where(k32 >= 0, k32, refl)


def _float_to_keys(v: np.ndarray) -> np.ndarray:
    """float32/float64 values -> int64 total-order keys (bit-lossless)."""
    if v.dtype == np.float32:
        return _f32_keys_involution(
            np.ascontiguousarray(v).view(np.int32)
        ).astype(np.int64)
    return _f64_keys_involution(
        np.ascontiguousarray(v.astype(np.float64, copy=False))
        .view(np.int64)
    )


def _keys_to_float(k: np.ndarray, alias: str) -> np.ndarray:
    """Inverse of :func:`_float_to_keys` (the map is an involution)."""
    if alias == "float":
        return _f32_keys_involution(
            k.astype(np.int32)
        ).astype(np.int32).view(np.float32)
    return _f64_keys_involution(k).astype(np.int64).view(np.float64)


# float total-order key landmarks (keys of +inf / -inf / canonical NaN):
# anything above the +inf key or below the -inf key is a NaN payload.
_FLOAT_KEY_LANDMARKS = {
    "f64": (9218868437227405312, -9218868437227405313,
            9221120237041090560),
    "f32": (2139095040, -2139095041, 2143289344),
}


def _group_key_norm_expr(schema: dict, col: str, src: str | None = None):
    """Plane-key normalization for GROUP BY / DISTINCT on a float column:
    SQL grouping merges ``-0.0`` with ``0.0`` and all NaN payloads into
    one group, but their total-order keys differ (``-0.0`` is key ``-1``,
    ``+0.0`` key ``0``; each NaN bit pattern its own key) — so merge
    ``-1 -> 0`` and canonicalize every NaN-range key before the key-space
    ``groupBy``/``distinct``, mirroring ``_plane_in_keys``' signed-zero
    widening on the predicate side.  Identity for non-float columns;
    NULL keys stay NULL."""
    from pyspark.sql import functions as F

    name = src if src is not None else col
    c = F.col(name)
    alias = (schema.get("int_col_types") or {}).get(col, "int64")
    kind = _plane_kind(alias)
    if kind not in _FLOAT_KEY_LANDMARKS:
        return c
    inf_k, ninf_k, nan_k = _FLOAT_KEY_LANDMARKS[kind]
    return (
        F.when(c == F.lit(-1), F.lit(0).cast("bigint"))
        .when((c > F.lit(inf_k)) | (c < F.lit(ninf_k)),
              F.lit(nan_k).cast("bigint"))
        .otherwise(c)
    )


def _plane_cast(col, alias: str | None):
    """Map one source column (ChunkedArray/Array) onto the engine's int64
    plane per its recorded alias — the ONE definition shared by the encode
    worker (values in), the verify worker (source side of the compare),
    and predicate-literal normalization.  NULLs stay NULLs; plain-int is
    the CHECKED Arrow cast (an out-of-range value raises, never wraps)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    kind = _plane_kind(alias)
    if kind == "int":
        return col.cast(pa.int64())
    if kind == "epoch":
        if str(col.type) == "date32[day]":
            return col.cast(pa.int32()).cast(pa.int64())
        return col.cast(pa.int64())
    v = col.fill_null(0).to_numpy(zero_copy_only=False)
    valid = (
        col.is_valid().to_numpy(zero_copy_only=False)
        if col.null_count else None
    )
    if kind == "dec":
        scale, src = _dec_alias_parts(alias)
        vv = v if valid is None else v[valid]
        if not np.isfinite(vv).all():
            raise ValueError(
                f"decimal-declared column holds a non-finite value — "
                f"NaN/inf have no scale-{scale} decimal representation"
            )
        scaled = np.rint(v.astype(np.float64) * np.float64(10 ** scale))
        if np.abs(scaled).max(initial=0.0) >= float(2 ** 53):
            raise ValueError(
                f"decimal-declared value exceeds 2^53 at scale {scale} — "
                "exact integer scaling would lose bits"
            )
        back = scaled / np.float64(10 ** scale)
        if src == "float":
            back = back.astype(np.float32)
        vb = back if valid is None else back[valid]
        if not np.array_equal(
            vb.view(np.int32 if src == "float" else np.int64),
            vv.view(np.int32 if src == "float" else np.int64),
        ):
            raise ValueError(
                f"column declared decimal at scale {scale} holds values "
                "that do not round-trip — raise the scale or encode it "
                "as a plain float column"
            )
        keys = scaled.astype(np.int64)
    else:
        keys = _float_to_keys(v)
    if valid is not None:
        return pa.array(keys, pa.int64(), mask=~valid)
    return pa.array(keys, pa.int64())


def _restore_plane(arr, alias: str | None):
    """Inverse of :func:`_plane_cast`: one decoded int64 column back to its
    recorded source type, NULLs intact."""
    import pyarrow as pa

    if alias is None or alias == "int64":
        return arr
    kind = _plane_kind(alias)
    target = _arrow_type_of_alias(alias)
    if kind == "int":
        return arr.cast(target)
    if kind == "epoch":
        if alias == "date32[day]":
            return arr.cast(pa.int32()).cast(target)
        return arr.cast(target)
    k = arr.fill_null(0).to_numpy(zero_copy_only=False)
    if kind == "dec":
        scale, src = _dec_alias_parts(alias)
        vals = k.astype(np.float64) / np.float64(10 ** scale)
        if src == "float":
            vals = vals.astype(np.float32)
    else:
        vals = _keys_to_float(k, alias)
    if arr.null_count:
        return pa.array(
            vals, target,
            mask=~arr.is_valid().to_numpy(zero_copy_only=False),
        )
    return pa.array(vals, target)


def _idx_key_bytes(plane_v: int) -> bytes:
    """Order-preserving 8-byte big-endian key of one plane int (sign bit
    flipped, so unsigned bytewise order == signed int64 order) — the
    dictionary-sidecar representation of INDEXED int columns."""
    return ((int(plane_v) + 2 ** 63) % 2 ** 64).to_bytes(8, "big")


def _idx_key_array(valid_vals: np.ndarray):
    """Sorted-distinct index keys of one block's valid plane values, as an
    Arrow binary array (vectorized: flip sign bits, big-endian view, one
    buffer — no per-value Python)."""
    import pyarrow as pa

    u = (
        np.unique(valid_vals.astype(np.int64, copy=False))
        ^ np.int64(-(2 ** 63))
    ).view(np.uint64).astype(">u8")
    n = int(u.size)
    offs = pa.py_buffer((np.arange(n + 1, dtype=np.int32) * 8).tobytes())
    return pa.Array.from_buffers(
        pa.binary(), n, [None, offs, pa.py_buffer(u.tobytes())]
    )


def _int_col_types(input_files: list[str], int_cols: list[str]) -> dict:
    """{col: arrow type alias} from the first file's footer (driver metadata
    only).  Beside the plain int widths, timestamps/dates record their
    epoch-integer alias and float32/float64 their total-order-key alias
    (both decode back exactly).  Unknown/wider types record as int64 — the
    engine's internal width; uint64 records as int64 too, and a uint64
    VALUE above 2^63-1 fails the worker's checked Arrow cast loudly (never
    numpy-wraps)."""
    import pyarrow.parquet as pq

    sch = pq.ParquetFile(input_files[0]).schema_arrow
    out = {}
    for c in int_cols:
        try:
            t = str(sch.field(c).type)
        except KeyError:
            t = "int64"
        if t in _INT_TYPE_ALIASES or _plane_kind(t) != "int":
            out[c] = t
        else:
            out[c] = "int64"
    return out


def _load_table_schema(out_dir: str) -> dict | None:
    path = _schema_path(out_dir)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _block_string_codes(arr, symbols):
    """One string block -> (int code stream, STRDICT dictionary block, ndv,
    raw payload bytes).  Codes index the block's distinct values in bytewise
    sort order; everything runs as Arrow/numpy kernels."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from rlv import blocks as B

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    denc = arr.dictionary_encode()
    dic = denc.dictionary
    sort_idx = pc.sort_indices(dic).to_numpy().astype(np.int64)
    rank = np.empty(sort_idx.size, dtype=np.int64)
    rank[sort_idx] = np.arange(sort_idx.size, dtype=np.int64)
    codes = rank[denc.indices.to_numpy().astype(np.int64)]
    uniq = dic.take(pa.array(sort_idx))
    dict_block = B.encode_strings(uniq, symbols)
    raw = int(pc.sum(pc.binary_length(uniq)).as_py() or 0)
    return codes, dict_block, len(uniq), raw


def _make_table_split_worker(
    out_blocks_dir: str,
    order_col: str,
    int_cols: tuple[str, ...],
    str_cols: tuple[str, ...],
    rows_per_block: int,
    fsst_symbols_hex: tuple[str, ...] | None,
    col_types: dict | None = None,
    index_cols: tuple[str, ...] = (),
):
    col_types = col_types or {}
    from rlv.util import tune_malloc

    symbols = _symbol_list(fsst_symbols_hex)
    read_cols = list(dict.fromkeys([order_col, *int_cols, *str_cols]))

    def run_split(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from decimal import Decimal

        import pyarrow as pa
        import pyarrow.parquet as pq

        from rlv import blocks as B
        from rlv import selector
        from rlv.stats import chunk_stats

        tune_malloc()
        for pdf in pdf_iter:
            for _, row in pdf.iterrows():
                split_id = row["split_id"]
                by_file = _rgs_by_file(json.loads(row["pieces"]))
                t0 = time.perf_counter_ns()
                tbl = pa.concat_tables(
                    pq.ParquetFile(p).read_row_groups(
                        rgs, columns=read_cols, use_threads=False
                    )
                    for p, rgs in by_file.items()
                ).combine_chunks()
                if tbl.column(order_col).null_count:
                    # NULL data values are represented (validity plane);
                    # a NULL ORDER key has no position in the sequence at
                    # all, so the row order would be undefined — refuse
                    raise ValueError(
                        f"split {split_id}: order column {order_col!r} "
                        "contains NULLs — the row order would be undefined"
                    )
                n_rows = len(tbl)
                order = np.argsort(
                    tbl.column(order_col).to_numpy(), kind="stable"
                )
                n_blocks = max((n_rows + rows_per_block - 1) // rows_per_block, 1)
                brows = {
                    k: []
                    for k in ("split_seq", "col_name", "block_idx", "n_values",
                              "n_nulls", "n_runs", "codec_id", "enc_bytes",
                              "naive_bytes", "min_val", "max_val", "sum_val",
                              "block")
                }
                srows = {
                    k: []
                    for k in ("split_seq", "col_name", "block_idx", "ndv",
                              "raw_bytes", "enc_bytes", "dict_block")
                }
                total_vals = total_runs = bytes_out = naive_total = 0
                nulls_total = dict_bytes = 0
                hist: dict[int, int] = {}

                def emit_block(
                    col_name: str, bi: int, valid_vals: np.ndarray,
                    mask: np.ndarray | None,
                ) -> None:
                    """One (column, block): auto-select over the VALID values;
                    a block with NULLs wraps the chosen inner block in the
                    NULLW validity bitmap (rlv.blocks.wrap_nullable), priced
                    exactly; a block without NULLs is byte-identical to the
                    pre-validity format."""
                    nonlocal total_vals, total_runs, bytes_out, naive_total
                    nonlocal nulls_total
                    st = chunk_stats(valid_vals)
                    codec, size = selector.choose_codec(st)
                    blk = B.encode_with(codec, valid_vals)
                    naive = B.naive_rle_bytes(st.n_runs)
                    if mask is None:
                        n_vals, n_nulls = valid_vals.size, 0
                    else:
                        n_vals = mask.size
                        n_nulls = int(n_vals - valid_vals.size)
                        over = B.nullable_overhead(n_vals, valid_vals.size)
                        blk = B.wrap_nullable(mask, blk)
                        size += over
                        # the validity plane is part of this block's budget:
                        # chosen-inner <= 16 * runs(valid) keeps the sum
                        # structural (CLAUDE.md invariant 3, extended)
                        naive += over
                    if len(blk) != size:
                        raise AssertionError(
                            f"exact-size model broke: {len(blk)} != {size}"
                        )
                    brows["split_seq"].append(str(split_id))
                    brows["col_name"].append(col_name)
                    brows["block_idx"].append(bi)
                    brows["n_values"].append(int(n_vals))
                    brows["n_nulls"].append(n_nulls)
                    brows["n_runs"].append(int(st.n_runs))
                    brows["codec_id"].append(int(codec))
                    brows["enc_bytes"].append(len(blk))
                    brows["naive_bytes"].append(naive)
                    # zone map over the VALID values (meaningless for an
                    # all-NULL block: n_runs == 0 marks it) — the pruned
                    # scan's min/max block-skipping statistic
                    brows["min_val"].append(int(st.min_val))
                    brows["max_val"].append(int(st.max_val))
                    # exact sum of the VALID values: with min/max/counts it
                    # makes a full-matching block's count/sum/min/max/avg a
                    # metadata-only aggregate — the value payload is never
                    # read.  Exact Python int (no int64 wrap), stored as
                    # decimal(38,0): |sum| < rows_per_block * 2^63 << 10^38
                    brows["sum_val"].append(B.exact_sum_i64(valid_vals))
                    brows["block"].append(blk)
                    total_vals += int(n_vals)
                    total_runs += int(st.n_runs)
                    nulls_total += n_nulls
                    bytes_out += len(blk)
                    naive_total += naive
                    hist[codec] = hist.get(codec, 0) + 1

                for c in int_cols:
                    # onto the int64 plane: CHECKED Arrow cast for plain
                    # ints (a uint64 value past int64 range raises here
                    # instead of numpy-wrapping to a negative), epoch cast
                    # for timestamps/dates, total-order keys for floats
                    col = _plane_cast(tbl.column(c), col_types.get(c))
                    if col.null_count:
                        mask = col.is_valid().to_numpy(zero_copy_only=False)[order]
                        vals = col.fill_null(0).to_numpy()[order]
                    else:
                        mask = None
                        vals = col.to_numpy()[order]
                    for bi in range(n_blocks):
                        sl = slice(bi * rows_per_block, (bi + 1) * rows_per_block)
                        a = vals[sl]
                        if a.size == 0:
                            continue
                        m = mask[sl] if mask is not None else None
                        if m is not None and m.all():
                            m = None
                        valid_a = a if m is None else a[m]
                        emit_block(c, bi, valid_a, m)
                        if c in index_cols and valid_a.size:
                            # membership index: the block's sorted-distinct
                            # plane values as order-preserving binary keys
                            # in the dictionary sidecar — point lookups on
                            # UNCLUSTERED keys prune like string eq scans
                            uniq = _idx_key_array(valid_a)
                            dict_block = B.encode_strings(uniq, symbols)
                            srows["split_seq"].append(str(split_id))
                            srows["col_name"].append(c)
                            srows["block_idx"].append(bi)
                            srows["ndv"].append(len(uniq))
                            srows["raw_bytes"].append(8 * len(uniq))
                            srows["enc_bytes"].append(len(dict_block))
                            srows["dict_block"].append(dict_block)
                            dict_bytes += len(dict_block)
                for c in str_cols:
                    arr = tbl.column(c).cast(pa.binary()).take(
                        pa.array(order)
                    )
                    for bi in range(n_blocks):
                        ablk = arr.slice(
                            bi * rows_per_block,
                            min(rows_per_block,
                                n_rows - bi * rows_per_block),
                        )
                        if len(ablk) == 0:
                            continue
                        m = (
                            ablk.is_valid().to_numpy(zero_copy_only=False)
                            if ablk.null_count
                            else None
                        )
                        codes, dict_block, ndv, raw = _block_string_codes(
                            ablk.drop_null() if m is not None else ablk,
                            symbols,
                        )
                        srows["split_seq"].append(str(split_id))
                        srows["col_name"].append(c)
                        srows["block_idx"].append(bi)
                        srows["ndv"].append(ndv)
                        srows["raw_bytes"].append(raw)
                        srows["enc_bytes"].append(len(dict_block))
                        srows["dict_block"].append(dict_block)
                        dict_bytes += len(dict_block)
                        # the dense-code stream (VALID rows only) rides the
                        # INT selector; NULL positions live in the code
                        # block's validity wrapper
                        emit_block(c, bi, codes, m)
                cpu_ns = time.perf_counter_ns() - t0
                out = pa.table(
                    {
                        "split_seq": pa.array(brows["split_seq"], pa.string()),
                        "col_name": pa.array(brows["col_name"], pa.string()),
                        "block_idx": pa.array(brows["block_idx"], pa.int32()),
                        "n_values": pa.array(brows["n_values"], pa.int64()),
                        "n_nulls": pa.array(brows["n_nulls"], pa.int64()),
                        "n_runs": pa.array(brows["n_runs"], pa.int64()),
                        "codec_id": pa.array(brows["codec_id"], pa.int32()),
                        "enc_bytes": pa.array(brows["enc_bytes"], pa.int64()),
                        "naive_bytes": pa.array(
                            brows["naive_bytes"], pa.int64()
                        ),
                        "min_val": pa.array(brows["min_val"], pa.int64()),
                        "max_val": pa.array(brows["max_val"], pa.int64()),
                        "sum_val": pa.array(
                            [Decimal(x) for x in brows["sum_val"]],
                            pa.decimal128(38, 0),
                        ),
                        "block": pa.array(brows["block"], pa.binary()),
                    }
                )
                final = os.path.join(out_blocks_dir, f"{split_id}.parquet")
                tmp = final + ".inprogress"
                _write_grouped(tmp, out)
                os.replace(tmp, final)
                if srows["col_name"]:
                    sdir = os.path.join(
                        os.path.dirname(out_blocks_dir), "strings"
                    )
                    os.makedirs(sdir, exist_ok=True)
                    sfinal = os.path.join(sdir, f"{split_id}.parquet")
                    stmp = sfinal + ".inprogress"
                    _write_grouped(
                        stmp,
                        pa.table(
                            {
                                "split_seq": pa.array(
                                    srows["split_seq"], pa.string()
                                ),
                                "col_name": pa.array(
                                    srows["col_name"], pa.string()
                                ),
                                "block_idx": pa.array(
                                    srows["block_idx"], pa.int32()
                                ),
                                "ndv": pa.array(srows["ndv"], pa.int64()),
                                "raw_bytes": pa.array(
                                    srows["raw_bytes"], pa.int64()
                                ),
                                "enc_bytes": pa.array(
                                    srows["enc_bytes"], pa.int64()
                                ),
                                "dict_block": pa.array(
                                    srows["dict_block"], pa.binary()
                                ),
                            }
                        ),
                    )
                    os.replace(stmp, sfinal)
                yield pd.DataFrame(
                    {
                        "split_id": [split_id],
                        "n_docs": [n_rows],
                        "n_tokens": [total_vals],
                        "n_runs": [total_runs],
                        "bytes_out": [bytes_out],
                        "naive_rle_bytes": [naive_total],
                        "codec_hist": [
                            json.dumps(
                                {str(k): v for k, v in sorted(hist.items())}
                            )
                        ],
                        "encode_cpu_ns": [cpu_ns],
                        "n_nulls": [nulls_total],
                        "dict_bytes": [dict_bytes],
                    }
                )

    return run_split


def encode_table_files(
    spark: SparkSession,
    input_files: list[str],
    out_dir: str,
    order_col: str,
    int_cols: list[str],
    str_cols: list[str] = (),
    rows_per_block: int = 4096,
    num_tasks: int | None = None,
    resume: bool = True,
    fsst_symbols: list[bytes] | None = None,
    splits: list[dict] | None = None,
    decimal_cols: dict | None = None,
    index_cols: list[str] | None = None,
) -> dict:
    """Encode an arbitrary-column parquet table per column on the files
    plane.  ``int_cols`` takes plain ints of any width, timestamps/dates
    (ride the plane as Arrow epoch integers), and float32/float64 (as
    IEEE-754 total-order keys) — all order-preserving and bit-lossless, so
    zone maps, predicates, top-k, and min/max stay exact and decode
    restores the original type; ``str_cols`` take the dictionary plane.
    ``decimal_cols`` maps float columns to a fixed decimal scale (e.g.
    ``{"l_extendedprice": 2}`` for currency): those store the EXACT
    scaled integers instead of IEEE keys — every value must round-trip at
    that scale (checked loudly per split) — which makes SUM/AVG push down
    exactly and the per-block ``sum_val`` stat meaningful.
    ``index_cols`` names columns that get a per-block MEMBERSHIP
    INDEX in the dictionary sidecar: for INT columns the block's
    sorted-distinct plane values write as order-preserving binary keys
    (at the cost of the sidecar bytes, tracked in ``dict_bytes``), so
    point lookups and IN-lists on UNCLUSTERED keys prune blocks the key
    set misses — the int analog of string dictionary membership.  A
    STRING column in ``index_cols`` is a declaration-only no-op: its
    dictionary sidecar exists regardless and already serves exactly that
    index (``eq``/``in``/range/LIKE predicates prune through it), so the
    entry just documents the lookup-key intent at zero extra bytes.
    ``order_col`` must totally order the rows of each split (it defines
    the value sequences, hence the run structure — ties would make blocks
    read-order-dependent); include it in ``int_cols`` to make the dataset
    self-describing on decode.

    Resume semantics are the token plane's: deterministic split ids, blocks
    written under tmp + atomic rename, manifest rows flipped after the data
    exists, re-runs skip done splits.  Returns the familiar summary dict
    (``n_docs``/``tokens`` mean rows / values encoded here).
    """
    if num_tasks is None:
        num_tasks = 4 * spark.sparkContext.defaultParallelism
    if order_col not in list(int_cols):
        raise ValueError(
            f"order_col {order_col!r} must be one of int_cols so the decoded "
            "table is self-describing"
        )
    col_types = _int_col_types(list(input_files), list(int_cols))
    for c, scale in (decimal_cols or {}).items():
        if c not in col_types or col_types[c] not in ("float", "double"):
            raise ValueError(
                f"decimal_cols[{c!r}]: only float32/float64 source "
                f"columns can be declared decimal (column is "
                f"{col_types.get(c, 'absent')!r})"
            )
        if not (0 <= int(scale) <= 15):
            raise ValueError(
                f"decimal_cols[{c!r}]: scale must be in [0, 15], got "
                f"{scale!r}"
            )
        col_types[c] = f"dec{int(scale)}:{col_types[c]}"
    for c in index_cols or ():
        if c not in list(int_cols) and c not in list(str_cols):
            raise ValueError(
                f"index_cols[{c!r}]: membership indexes cover int-plane "
                f"or string columns (int_cols={list(int_cols)} "
                f"str_cols={list(str_cols)})"
            )
    schema = {
        "order_col": order_col,
        "int_cols": list(int_cols),
        "str_cols": list(str_cols),
        "rows_per_block": int(rows_per_block),
        # source dtypes (from the first file's footer) so decode restores
        # the ORIGINAL column widths — an int32 column must come back
        # int32, not the engine's internal int64
        "int_col_types": col_types,
    }
    if index_cols:
        # only recorded when used, so index-free datasets stay
        # resume-compatible across engine versions
        schema["index_cols"] = sorted(index_cols)
    existing = _load_table_schema(out_dir)
    if existing is not None and existing != schema:
        raise ValueError(
            f"{_schema_path(out_dir)} records a different table schema; "
            "resume with the recorded schema or encode into a fresh out_dir"
        )
    blocks_dir = f"{out_dir}/blocks"
    os.makedirs(blocks_dir, exist_ok=True)
    if existing is None:
        os.makedirs(f"{out_dir}/manifest", exist_ok=True)
        tmp = _schema_path(out_dir) + ".inprogress"
        with open(tmp, "w") as f:
            json.dump(schema, f)
        os.replace(tmp, _schema_path(out_dir))
    if fsst_symbols is not None:
        # same dataset-metadata discipline as the token plane
        existing_syms = engine_files._load_symbols(out_dir)
        if existing_syms is not None and existing_syms != list(fsst_symbols):
            raise ValueError(
                "out_dir already records a different FSST table; resume "
                "with it or use a fresh out_dir"
            )
        if existing_syms is None:
            tmp = engine_files._symbols_path(out_dir) + ".inprogress"
            with open(tmp, "w") as f:
                json.dump([s.hex() for s in fsst_symbols], f)
            os.replace(tmp, engine_files._symbols_path(out_dir))
    if splits is None:
        splits = engine_files.plan_splits_for_files(list(input_files), num_tasks)
    done = engine_files.done_splits(spark, out_dir) if resume else set()
    todo = [s for s in splits if s["split_id"] not in done]
    if not todo:
        return {"splits_encoded": 0, "splits_skipped": len(done), "tokens": 0}
    t0 = time.perf_counter()
    results = engine_files.run_splits(
        spark,
        todo,
        _make_table_split_worker(
            blocks_dir,
            order_col,
            tuple(int_cols),
            tuple(str_cols),
            int(rows_per_block),
            (
                tuple(s.hex() for s in fsst_symbols)
                if fsst_symbols is not None
                else None
            ),
            col_types=schema["int_col_types"],
            index_cols=tuple(sorted(index_cols or ())),
        ),
        TABLE_RESULT_SCHEMA,
    ).collect()
    wall = time.perf_counter() - t0
    summary = engine_files._merge_split_manifest(
        spark, out_dir, results, wall, len(done), todo
    )
    # dict sidecar bytes are tracked OUTSIDE bytes_out (the token plane's
    # sidecar discipline), so bytes_out <= naive_rle_bytes stays structural
    # for string-heavy tables; n_nulls records the validity-plane mass
    summary["dict_bytes"] = sum(int(r["dict_bytes"]) for r in results)
    summary["n_nulls"] = sum(int(r["n_nulls"]) for r in results)
    return summary


def cluster_encode_table_files(
    spark: SparkSession,
    input_files: list[str],
    out_dir: str,
    cluster_by: str,
    int_cols: list[str],
    str_cols: list[str] = (),
    order_col: str = "row_ord",
    num_tasks: int | None = None,
    rows_per_block: int = 4096,
    fsst_symbols: list[bytes] | None = None,
    stage_dir: str | None = None,
    decimal_cols: dict | None = None,
    index_cols: list[str] | None = None,
) -> dict:
    """CLUSTER BY write path: globally sort the table by ``cluster_by``
    (range partition + partition-local sort — Spark's distributed sort),
    mint a cluster-order ordinal as the dataset's order column, and encode
    the sorted runs zero-shuffle per partition.  Consecutive blocks then
    hold consecutive ``cluster_by`` values, so the zone-map / dictionary
    pruning the scan surfaces do becomes O(selectivity) instead of
    O(blocks) — the reorganization every warehouse sells as CLUSTER BY /
    ZORDER, here feeding OUR block metadata.

    The minted ``order_col`` (default ``row_ord``) must not collide with a
    source column; the original row key, if any, just stays a regular
    column.  ``out_dir`` must be fresh: range boundaries come from Spark's
    sampling, so a *re-clustering* is not split-for-split reproducible and
    resuming a half-done cluster-encode against different boundaries would
    mix block layouts (the ENCODE of a given staged layout remains fully
    deterministic — determinism starts at the staged files, exactly like
    any other ingest).  NULLs in ``cluster_by`` sort first and encode like
    any other NULL.

    The sorted staged copy lands at ``out_dir/source`` (or ``stage_dir``)
    and is KEPT: it is the dataset's recorded input, which lineage verify
    (:func:`verify_table_files`) replays split-for-split — delete it only
    when you no longer need verification against the source."""
    import glob as _glob

    from pyspark.sql import functions as F

    if _load_table_schema(out_dir) is not None:
        raise ValueError(
            f"{out_dir} already holds an encoded table — cluster-encode "
            "needs a fresh out_dir (range boundaries are sampled, so a "
            "resume could mix layouts)"
        )
    known = list(int_cols) + list(str_cols)
    if cluster_by not in known:
        raise ValueError(
            f"cluster_by {cluster_by!r} must be one of int_cols/str_cols "
            f"({known})"
        )
    if order_col in known:
        raise ValueError(
            f"order_col {order_col!r} is minted by cluster-encode and must "
            "not collide with a source column"
        )
    if num_tasks is None:
        num_tasks = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(*list(input_files)).select(*known)
    staged = (
        df.repartitionByRange(num_tasks, F.col(cluster_by))
        .sortWithinPartitions(cluster_by)
        .withColumn(order_col, F.monotonically_increasing_id())
    )
    stage = (
        os.path.join(out_dir, "source") if stage_dir is None else stage_dir
    )
    staged.write.mode("overwrite").parquet(stage)
    files = sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))
    if not files:
        raise ValueError("clustering staged zero files — empty input?")
    return encode_table_files(
        spark, files, out_dir,
        order_col=order_col,
        int_cols=[order_col, *int_cols],
        str_cols=list(str_cols),
        rows_per_block=rows_per_block,
        num_tasks=len(files),
        fsst_symbols=fsst_symbols,
        decimal_cols=decimal_cols,
        index_cols=index_cols,
    )


def _write_grouped(tmp: str, tbl, compression: str | None = "zstd") -> None:
    """Write a blocks / sidecar table with one row group per
    :func:`rlv.engine_files.grouped_slices` run (the shared layout
    definition — compaction's merge writer uses the same one): row-group
    statistics then let a column-filtered payload read decompress ONLY
    that column's blocks — with a single row group, every per-column
    read of an N-column file decompresses all N columns' payload (a
    2-column projection over a wide table pays the whole file, N times
    per query)."""
    import pyarrow.parquet as pq

    with pq.ParquetWriter(tmp, tbl.schema, compression=compression) as w:
        for run in engine_files.grouped_slices(tbl):
            w.write_table(run)


def _read_filtered(path: str, columns: list[str] | None = None, *,
                   col: str | list[str] | None = None,
                   seg: str | None = None,
                   block_idx=None):
    """Rows of one blocks or sidecar file whose ``col_name`` is ``col``
    (one name or a list), whose ``split_seq`` is ``seg`` and whose
    ``block_idx`` is in ``block_idx`` (None = no condition on that
    column), projected to ``columns`` (None = all; names the file lacks
    are skipped, so a pre-r4 file simply has no ``split_seq``).

    The ONE reader of the query path.  Row groups are picked from the
    footer's ``col_name`` / ``split_seq`` statistics — the writers lay out
    one row group per (split_seq, col_name) run, so a column-scoped read
    decompresses only that column's chunks — and read single-threaded;
    a row group without statistics is read.  Rows are then filtered in
    Arrow, so the result is exact either way.  An unreadable file raises
    naming it, as ``pq.read_table`` does."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(path)
    except FileNotFoundError:
        raise FileNotFoundError(path) from None
    except pa.ArrowInvalid as e:
        raise pa.ArrowInvalid(
            f"Could not open Parquet input source '{path}': {e}"
        ) from None
    names = pf.schema_arrow.names
    conds: dict[str, set] = {}
    if col is not None:
        conds["col_name"] = {col} if isinstance(col, str) else set(col)
    if seg is not None:
        conds["split_seq"] = {seg}
    if block_idx is not None:
        conds["block_idx"] = {int(b) for b in block_idx}
    meta = pf.metadata
    rgs = []
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        keep = True
        for name in ("col_name", "split_seq"):
            if name not in conds or name not in names:
                continue
            st = rg.column(names.index(name)).statistics
            if st is not None and st.has_min_max and not any(
                st.min <= v <= st.max for v in conds[name]
            ):
                keep = False
                break
        if keep:
            rgs.append(i)
    want = names if columns is None else [c for c in columns if c in names]
    read = list(dict.fromkeys([*want, *conds]))
    tbl = pf.read_row_groups(rgs, columns=read, use_threads=False)
    mask = None
    for name, vals in conds.items():
        m = pc.is_in(tbl.column(name),
                     value_set=pa.array(sorted(vals),
                                        tbl.schema.field(name).type))
        mask = m if mask is None else pc.and_(mask, m)
    if mask is not None:
        tbl = tbl.filter(mask)
    return tbl.select(want).combine_chunks()


def _read_dict_sidecar(
    blocks_path: str, default_seq: str,
    col: str | list[str] | None = None,
    block_idx: list[int] | None = None,
    seg: str | None = None,
) -> dict[tuple[str, str, int], bytes]:
    """{(split_seq, col_name, block_idx): STRDICT dict block} for one blocks
    file (empty when the dataset has no string columns).  ``split_seq``
    disambiguates (col, block) keys in files that absorbed several splits
    through compaction; a pre-r4 sidecar without the column keys everything
    under ``default_seq``.  ``col`` (one name or a list) filters the read to
    those columns' dictionaries (the membership-pruning pass of
    :func:`scan_table_files_eq`; the projection pass of both scans);
    ``block_idx`` additionally restricts to those block ordinals (the
    over-read across compacted segments is harmless — callers key by
    (seq, col, block)); ``seg`` restricts a segment-scoped task of a
    compacted file to its own split's dictionaries (merged sidecars carry
    the ``split_seq`` column and one row group per segment, so the filter
    prunes the read exactly)."""
    spath = os.path.join(
        os.path.dirname(os.path.dirname(blocks_path)),
        "strings",
        os.path.basename(blocks_path),
    )
    side: dict[tuple[str, str, int], bytes] = {}
    if os.path.exists(spath):
        stbl = _read_filtered(spath, col=col, seg=seg, block_idx=block_idx)
        seqs = (
            stbl.column("split_seq").to_pylist()
            if "split_seq" in stbl.column_names
            else [default_seq] * len(stbl)
        )
        for sid, name, bi, blob in zip(
            seqs,
            stbl.column("col_name").to_pylist(),
            stbl.column("block_idx").to_numpy(),
            stbl.column("dict_block").to_pylist(),
        ):
            side[(str(sid), name, int(bi))] = blob
    return side


def _decode_split_columns(btbl, side, schema: dict, symbols, split_seq: str):
    """Reconstruct every column of ONE split's blocks rows as Arrow arrays —
    the ONE definition of what an encoded split contains, shared by the
    verify and decode workers (ints as int64, strings as binary; NULLs
    restored from the NULLW validity wrappers).  Raises on corrupt blocks;
    blocks of a column concatenate in block_idx order."""
    import pyarrow as pa

    from rlv import blocks as B

    per_col: dict[str, list[tuple[int, bytes, int]]] = {}
    for name, bi, blob, nv in zip(
        btbl.column("col_name").to_pylist(),
        btbl.column("block_idx").to_numpy(),
        btbl.column("block").to_pylist(),
        btbl.column("n_values").to_numpy(),
    ):
        per_col.setdefault(name, []).append((int(bi), blob, int(nv)))

    def _int_array(items):
        flat, _, valid = B.decode_blocks_batch_nullable(
            [b for _, b, _ in items],
            np.int64,
            expected=[n for _, _, n in items],
        )
        if valid.all():
            return pa.array(flat, pa.int64())
        return pa.array(flat, pa.int64(), mask=~valid)

    cols: dict[str, pa.Array] = {}
    for c in schema["int_cols"]:
        cols[c] = _int_array(sorted(per_col.get(c, [])))
    for c in schema["str_cols"]:
        items = sorted(per_col.get(c, []))
        parts = []
        for bi, blob, nv in items:
            codes, _, valid = B.decode_blocks_batch_nullable(
                [blob], np.int64, expected=[nv]
            )
            uniq = B.decode_strings_arrow(side[(split_seq, c, bi)], symbols)
            if valid.all():
                idx = pa.array(codes)
            else:  # a NULL index gathers a NULL value — Arrow take semantics
                idx = pa.array(codes, pa.int64(), mask=~valid)
            parts.append(uniq.take(idx))
        if parts and len({p.type for p in parts}) > 1:
            # a >2 GiB block decodes as large_binary: promote the column
            parts = [p.cast(pa.large_binary()) for p in parts]
        cols[c] = (
            pa.concat_arrays(parts) if parts else pa.array([], pa.binary())
        )
    return cols


def _split_segments(btbl, default_seq: str):
    """Yield ``(split_seq, rows)`` per absorbed split of one blocks file, in
    split_seq order — one segment for a freshly-encoded file, several after
    compaction.  Segment order is the file's RECONSTRUCTION order: decode
    emits segments sorted by split_seq, and any global order is re-established
    by sorting on order_col (decoded data).  A pre-r4 blocks file has no
    split_seq column and is exactly one segment: ``default_seq`` (its own
    split id) names it."""
    import pyarrow.compute as pc

    if "split_seq" not in btbl.column_names:
        yield str(default_seq), btbl
        return
    seqs = sorted(set(btbl.column("split_seq").to_pylist()))
    for sid in seqs:
        yield str(sid), btbl.filter(
            pc.equal(btbl.column("split_seq"), sid)
        )


def _segment_rows(seg) -> int:
    """Row count of one blocks segment: the max over columns of the summed
    per-block n_values (every encoded column covers all rows, so any column
    gives the answer; max is robust to a partially-written segment)."""
    per_col: dict[str, int] = {}
    for name, nv in zip(
        seg.column("col_name").to_pylist(),
        seg.column("n_values").to_numpy(),
    ):
        per_col[name] = per_col.get(name, 0) + int(nv)
    return max(per_col.values(), default=0)


def _null_safe_neq(got, want) -> np.ndarray:
    """Row-wise boolean numpy mask: True where the arrays differ under
    NULL-safe semantics (NULL == NULL, NULL != value)."""
    import pyarrow.compute as pc

    eq = pc.fill_null(pc.equal(got, want), False)
    both_null = pc.and_(pc.is_null(got), pc.is_null(want))
    return ~pc.or_(eq, both_null).to_numpy(zero_copy_only=False)


TABLE_VERIFY_SCHEMA = "split_id string, n_rows bigint, mismatches bigint"


def _pieces_map(split_id: str, pieces_json: str) -> dict[str, list]:
    """Normalize a manifest ``pieces`` field to {split_seq: pieces}: a plain
    list means a freshly-encoded split; a dict records the per-member lineage
    of a compacted file (each absorbed split keeps its OWN pieces, so verify
    replays every segment against exactly the rows it encoded)."""
    parsed = json.loads(pieces_json)
    if isinstance(parsed, dict):
        return parsed
    return {split_id: parsed}


def _make_table_verify_worker(blocks_dir: str, schema: dict,
                              symbols_hex: tuple[str, ...] | None):
    """Per-file lineage verify: for EACH split segment recorded in the blocks
    file (one, or several after compaction), re-read that split's SOURCE row
    groups, sort by order_col, decode the segment, and compare every column
    in-task (NULL-safe) — the token plane's zero-shuffle verify discipline on
    arbitrary tables.  ``mismatches`` counts rows where ANY column differs."""
    from rlv.util import tune_malloc

    symbols = _symbol_list(symbols_hex)
    order_col = schema["order_col"]
    read_cols = list(dict.fromkeys(
        [order_col, *schema["int_cols"], *schema["str_cols"]]
    ))

    def run_verify(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tune_malloc()
        for pdf in pdf_iter:
            for _, row in pdf.iterrows():
                split_id = str(row["split_id"])
                seg_scope = _task_seg(row)
                pmap = _pieces_map(split_id, str(row["pieces"]))
                bpath = os.path.join(blocks_dir, f"{split_id}.parquet")
                btbl = _read_filtered(bpath, seg=seg_scope)
                side = _read_dict_sidecar(bpath, split_id, seg=seg_scope)
                n_total = 0
                mismatches = 0
                seen: set[str] = set()
                for seq, seg in _split_segments(btbl, split_id):
                    seen.add(seq)
                    by_file = _rgs_by_file(pmap.get(seq) or [])
                    src = pa.concat_tables(
                        pq.ParquetFile(p).read_row_groups(
                            rgs, columns=read_cols, use_threads=False
                        )
                        for p, rgs in by_file.items()
                    ).combine_chunks() if by_file else None
                    if src is None:
                        # a segment with no recorded lineage is unverifiable:
                        # count every one of its rows as a mismatch
                        mismatches += _segment_rows(seg)
                        continue
                    order = np.argsort(
                        src.column(order_col).to_numpy(), kind="stable"
                    )
                    n = len(src)
                    n_total += n
                    bad = np.zeros(n, dtype=bool)
                    try:
                        cols = _decode_split_columns(
                            seg, side, schema, symbols, seq
                        )
                    except Exception:
                        # corrupt blocks must report, not kill the pass
                        cols = None
                        bad[:] = True
                    if cols is not None:
                        col_types = schema.get("int_col_types") or {}
                        for c in [*schema["int_cols"], *schema["str_cols"]]:
                            got = cols[c]
                            want_col = src.column(c)
                            if c in schema["str_cols"]:
                                want_col = want_col.cast(got.type)
                            else:
                                # same plane mapping the encode side used
                                # (epoch ints / float total-order keys)
                                want_col = _plane_cast(
                                    want_col, col_types.get(c)
                                )
                            want = want_col.take(pa.array(order))
                            if len(got) != n:
                                bad[:] = True
                            else:
                                bad |= _null_safe_neq(got, want)
                    mismatches += int(bad.sum())
                # segments the manifest knows but the file lost are data
                # loss: count every row their recorded lineage says they
                # held (source footers, opened once per file).  Reporting
                # the loss must never itself crash — sources may have been
                # archived after a passing verify, so an unreadable footer
                # degrades to counting one mismatch per lost piece
                for seq in set(pmap) - seen:
                    for path, rgs in _rgs_by_file(pmap[seq]).items():
                        try:
                            meta = pq.ParquetFile(path).metadata
                            mismatches += sum(
                                meta.row_group(rg).num_rows for rg in rgs
                            )
                        except Exception:
                            mismatches += len(rgs)
                yield pd.DataFrame(
                    {
                        "split_id": [split_id],
                        "n_rows": [n_total],
                        "mismatches": [mismatches],
                    }
                )

    return run_verify


def verify_table_files(spark: SparkSession, enc_dir: str) -> dict:
    """Decode-and-compare every live split against its recorded lineage
    (zero shuffle; one task per split, and one per ABSORBED SEGMENT of a
    compacted bin — each replays exactly its own lineage, so verify
    bandwidth survives compaction like the query layer's).  A split is
    promoted to status='verified' only when every one of its segments
    passes.  Returns {splits, rows, mismatches}."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    import pyarrow.parquet as pq

    live = engine_files.live_splits(enc_dir)
    if live is None:
        return {"splits": 0, "rows": 0, "mismatches": 0}
    todo = []
    n_splits = 0
    for rec in live.to_dict("records"):
        pieces = json.loads(rec["pieces"]) if rec.get("pieces") else []
        if not pieces:
            raise ValueError(
                f"split {rec['split_id']} has no recorded lineage"
            )
        sid = str(rec["split_id"])
        n_splits += 1
        bpath = os.path.join(enc_dir, "blocks", f"{sid}.parquet")
        if isinstance(pieces, dict) and len(pieces) > 1 and                 "split_seq" in pq.ParquetFile(bpath).schema_arrow.names:
            # compacted bin: one verify task per absorbed segment, each
            # replaying exactly its own lineage against its own row
            # groups — a lost segment shows as a zero-row read whose
            # lineage rows all count as mismatches
            for seq in sorted(pieces):
                todo.append({
                    "split_id": sid,
                    "pieces": json.dumps({seq: pieces[seq]},
                                         sort_keys=True),
                    "segment": seq,
                })
        else:
            todo.append({"split_id": sid,
                         "pieces": json.dumps(pieces, sort_keys=True),
                         "segment": None})
    if not todo:
        return {"splits": 0, "rows": 0, "mismatches": 0}
    syms = engine_files._load_symbols(enc_dir)
    results = _dispatch(
        spark,
        pd.DataFrame(todo, columns=["split_id", "pieces", "segment"]),
        _make_table_verify_worker(
            f"{enc_dir}/blocks",
            schema,
            tuple(s.hex() for s in syms) if syms is not None else None,
        ),
        TABLE_VERIFY_SCHEMA,
    ).collect()
    bad_by_split: dict[str, int] = {}
    for r in results:
        sid = str(r["split_id"])
        bad_by_split[sid] = bad_by_split.get(sid, 0) + int(r["mismatches"])
    passed = {sid for sid, m in bad_by_split.items() if m == 0}
    pdf = engine_files._read_manifest_pdf(enc_dir)
    if pdf is not None and passed:
        sel = pdf["split_id"].astype(str).isin(passed) & (
            pdf["status"] == "done"
        )
        pdf.loc[sel, "status"] = "verified"
        engine_files._write_manifest_pdf(enc_dir, pdf)
    return {
        "splits": n_splits,
        "rows": sum(int(r["n_rows"]) for r in results),
        "mismatches": sum(int(r["mismatches"]) for r in results),
    }


def _make_table_decode_worker(out_dir: str, schema: dict,
                              symbols_hex: tuple[str, ...] | None):
    from rlv.util import tune_malloc

    symbols = _symbol_list(symbols_hex)

    def run_decode(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tune_malloc()
        for pdf in pdf_iter:
            for _, row in pdf.iterrows():
                path = row["file"]
                file_sid = _file_sid(path)
                seg_scope = _task_seg(row)
                tbl = _read_filtered(path, seg=seg_scope)
                side = _read_dict_sidecar(path, file_sid, seg=seg_scope)
                seg_cols = [
                    _decode_split_columns(seg, side, schema, symbols, seq)
                    for seq, seg in _split_segments(tbl, file_sid)
                ]
                cols: dict = {}
                for c in [*schema["int_cols"], *schema["str_cols"]]:
                    parts = [sc[c] for sc in seg_cols]
                    if len({p.type for p in parts}) > 1:
                        parts = [p.cast(pa.large_binary()) for p in parts]
                    cols[c] = pa.concat_arrays(parts)
                # restore recorded source types (widths, timestamps/dates,
                # floats from their total-order keys; pre-r4 datasets have
                # no record and keep the internal int64)
                col_types = schema.get("int_col_types") or {}
                for c in schema["int_cols"]:
                    cols[c] = _restore_plane(
                        cols[c], col_types.get(c, "int64")
                    )
                for c in schema["str_cols"]:
                    cols[c] = cols[c].cast(
                        pa.large_string()
                        if pa.types.is_large_binary(cols[c].type)
                        else pa.string()
                    )
                out = pa.table(cols)
                # a segment task of a compacted bin writes its own output
                # file (unique per task; the restored dir is a plain
                # parquet dataset either way)
                name = (
                    os.path.basename(path) if seg_scope is None
                    else f"{file_sid}.{seg_scope}.parquet"
                )
                final = os.path.join(out_dir, name)
                tmp = final + ".inprogress"
                pq.write_table(out, tmp, compression="zstd")
                os.replace(tmp, final)
                yield pd.DataFrame(
                    {
                        "file": [name],
                        "n_rows": [len(out)],
                        "n_cols": [out.num_columns],
                    }
                )

    return run_decode


def decode_table_files(
    spark: SparkSession, enc_dir: str, out_dir: str
) -> dict:
    """Reconstruct the encoded table (zero shuffle; one task per live
    blocks file, fanned out to one per absorbed segment for compacted
    bins — export bandwidth survives compaction).  Rows come back in
    ``order_col`` order within each split; the ``order_col`` column
    itself is decoded data, so any global order can be re-established by
    sorting on it."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    # the curated lost-file check runs BEFORE the task planner (which
    # opens merged files' footers and would raise a raw not-found first)
    files = _live_block_files(enc_dir)
    lost = [f for f in files if not os.path.exists(f)]
    if lost:
        raise FileNotFoundError(
            f"manifest lists live splits with missing blocks files: "
            f"{[os.path.basename(f) for f in lost[:5]]}"
        )
    tasks = _query_tasks(enc_dir)
    if tasks.empty:
        os.makedirs(out_dir, exist_ok=True)
        return {"files": 0, "rows": 0}
    os.makedirs(out_dir, exist_ok=True)
    syms = engine_files._load_symbols(enc_dir)
    rows = _dispatch(
        spark, tasks,
        _make_table_decode_worker(
            out_dir,
            schema,
            tuple(s.hex() for s in syms) if syms is not None else None,
        ),
        DECODE_RESULT_SCHEMA,
    ).collect()
    return {
        "files": len(rows),
        "rows": sum(int(r["n_rows"]) for r in rows),
    }


# ---------------------------------------------------------------------------
# Zone-map pruned scan: predicate pushdown into the ENCODED format.  Blocks
# whose [min_val, max_val] cannot intersect the predicate range are never
# decoded — the standard columnar block-skipping read path, over our own
# blocks relation instead of parquet pages.
# ---------------------------------------------------------------------------

_SPARK_TYPE_OF_ALIAS = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "uint8": "smallint", "uint16": "int", "uint32": "bigint",
}


def _live_block_files(enc_dir: str) -> list[str]:
    """Sorted live blocks files from the manifest — the task list of every
    per-file operator (scan/agg/top-k/distinct/stats/decode); raises when
    the dataset has no manifest yet."""
    live = engine_files.live_splits(enc_dir)
    if live is None:
        raise FileNotFoundError(f"no manifest at {enc_dir}")
    return sorted(
        os.path.join(enc_dir, "blocks", f"{sid}.parquet")
        for sid in live["split_id"].astype(str)
    )


def _query_tasks(enc_dir: str) -> pd.DataFrame:
    """Per-(file, segment) task frame of the query operators (scan / agg /
    group / distinct / top-k): a freshly-encoded split is one whole-file
    task (``segment`` None); a compacted bin fans out to ONE TASK PER
    ABSORBED SPLIT — enumerated from the manifest's lineage map, no file
    IO on the planner beyond one footer per merged file — so query
    parallelism survives compaction (a dataset compacted into a single
    bin would otherwise collapse every scan to one task).  Workers scope
    a segment task's reads with a ``split_seq`` filter, which prunes to
    that segment's row groups (compaction writes one row group per
    absorbed split).  A merged file from a pre-r4 generation (no
    ``split_seq`` column — checked in its footer) stays one whole-file
    task."""
    import pyarrow.parquet as pq

    live = engine_files.live_splits(enc_dir)
    if live is None:
        raise FileNotFoundError(f"no manifest at {enc_dir}")
    files: list[str] = []
    segs: list[str | None] = []
    for rec in sorted(
        live.to_dict("records"), key=lambda r: str(r["split_id"])
    ):
        sid = str(rec["split_id"])
        path = os.path.join(enc_dir, "blocks", f"{sid}.parquet")
        try:
            parsed = json.loads(rec.get("pieces") or "null")
        except (TypeError, ValueError):
            parsed = None
        segments: list[str | None] = [None]
        if isinstance(parsed, dict) and len(parsed) > 1:
            names = pq.ParquetFile(path).schema_arrow.names
            if "split_seq" in names:
                segments = sorted(parsed)
        for s in segments:
            files.append(path)
            segs.append(s)
    return pd.DataFrame(
        {"file": files, "segment": pd.Series(segs, dtype=object)}
    )


# Largest decode bill (values phase 2 decodes, summed over the fetched
# blocks and columns) the driver runs itself instead of dispatching Python
# tasks: 512 Ki values is ~60 ms at the measured ~118 ns/value block decode
# (perfbench's blocks.decode_ns_per_value), against a ~0.2-0.25 s floor
# for dispatching even 1-4 Python tasks (an identity run_packed job on 4
# vCPUs).  A constant of the engine, not a knob.
DRIVER_BILL_VALUES = 512 * 1024


def _file_sid(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


class _TaskOp:
    """One query operator's per-(file, segment) task, split where the
    dispatcher prices it: ``phase1(path, file_sid, seg)`` reads metadata
    and sidecars only and returns a picklable plan, ``bill(plan)`` is the
    number of values phase 2 decodes, and ``finish(path, file_sid, seg,
    plan)`` fetches, decodes and reduces to one partial frame.

    Calling the op over task frames is the ``mapInPandas`` worker: it
    uses the plan the driver shipped in a ``phase1`` column when there is
    one, so a file's metadata is read once per query, and runs phase 1
    itself otherwise."""

    def __init__(self, finish, phase1, bill=None):
        self.finish = finish
        self.phase1 = phase1
        self.bill = bill if bill is not None else _no_bill

    def __call__(self, pdf_iter: Iterator[pd.DataFrame]
                 ) -> Iterator[pd.DataFrame]:
        import pickle

        from rlv.util import tune_malloc

        tune_malloc()
        for pdf in pdf_iter:
            for row in pdf.to_dict("records"):
                path = row["file"]
                sid, seg = _file_sid(path), _task_seg(row)
                shipped = row.get("phase1")
                plan = (
                    pickle.loads(shipped) if shipped is not None
                    else self.phase1(path, sid, seg)
                )
                yield self.finish(path, sid, seg, plan)


def _local_frame(spark: SparkSession, pdf: pd.DataFrame, schema: str):
    """DataFrame over rows the driver holds, built from pandas so Spark
    plans a LocalRelation: collecting it, or a projection of it, starts no
    Spark job (a Python tuple list plans as a Python-RDD scan instead)."""
    return spark.createDataFrame(pdf, schema)


def _dispatch(spark: SparkSession, tasks: pd.DataFrame, op, schema: str,
              combine=None, fold=None):
    """Run ``op`` (a :class:`_TaskOp`, or a plain ``mapInPandas`` worker)
    over a task frame and return its result: ``fold(partials)`` when the
    operator folds in Python (a list of ``schema``-shaped pandas frames;
    used for partials bounded by the task count), else ``combine`` over
    the partials as a DataFrame (None = the partials themselves).

    With at most ``defaultParallelism`` tasks the driver runs phase 1 of
    every task and prices the decode bill.  A bill of at most
    :data:`DRIVER_BILL_VALUES` runs phases 2-3 in the driver too and no
    Python task is dispatched; unfolded partials become a LocalRelation.
    A larger bill ships each task's phase-1 plan in its task row, so
    workers do not read metadata again.  Spark runs the tasks through
    :func:`rlv.engine_files.run_packed`: one task per partition up to the
    core count; above it (where the driver runs no phase 1) tasks are
    LPT-packed into the cores by their share of their blocks file's size
    (uniform for frames without a ``file`` column)."""
    import pickle

    n = len(tasks)
    cores = spark.sparkContext.defaultParallelism
    parts: list[pd.DataFrame] | None = [] if n == 0 else None
    if n and getattr(op, "phase1", None) is not None and n <= cores:
        args = [
            (r["file"], _file_sid(r["file"]), _task_seg(r))
            for r in tasks.to_dict("records")
        ]
        plans = [op.phase1(*a) for a in args]
        if sum(op.bill(p) for p in plans) <= DRIVER_BILL_VALUES:
            parts = [op.finish(*a, p) for a, p in zip(args, plans)]
        else:
            tasks = tasks.assign(phase1=[pickle.dumps(p) for p in plans])
    if parts is None:
        if "file" in tasks:  # a task weighs its share of its file's bytes
            files = tasks["file"]
            weights = files.map(os.path.getsize) / files.map(
                files.value_counts())
        else:
            weights = [1] * n
        out = engine_files.run_packed(spark, tasks, op, schema, weights)
        if fold is None:
            return combine(out) if combine is not None else out
        # object columns keep Python ints (a nullable bigint would
        # become float64 in pandas) and Decimals exact
        parts = [pd.DataFrame([tuple(r) for r in out.collect()],
                              columns=out.columns, dtype=object)]
    if fold is not None:
        return fold(parts)
    local = (
        _local_frame(spark, pd.concat(parts, ignore_index=True), schema)
        if parts else spark.createDataFrame([], schema)
    )
    return combine(local) if combine is not None else local


def _need_bill(info: dict, need: dict[str, set[int]]) -> int:
    """Values phase 2 decodes for a ``need`` fetch plan: the ``n_values``
    of every fetched (column, block) — any column of ``info`` gives the
    row counts, which phase 1 checked agree across columns."""
    rows = next(iter(info.values()), {})
    return sum(
        rows[key][0]
        for idxs in need.values() if idxs
        for key in rows if key[1] in idxs
    )


def _no_bill(plan) -> int:
    """Bill of an op whose phase 2 decodes no block (metadata and
    sidecars only)."""
    return 0


def _planned_frame(path, file_sid, seg, plan) -> pd.DataFrame:
    """``finish`` of a metadata-only op: its phase 1 built the partial."""
    return plan


def _summed(parts: list[pd.DataFrame], col: str) -> int:
    return sum(int(p[col].sum()) for p in parts)


def _plan_bill(plan) -> int:
    """Bill of a classifying op's plan ``(info, ..., need)``; None is a
    task whose every block pruned."""
    return 0 if plan is None else _need_bill(plan[0], plan[-1])


def _typed_field_type(schema: dict, c: str) -> str:
    """Spark type of a column as the operators return it: string columns as
    string, int columns at their recorded source width, timestamps/dates/
    floats at their logical type (nanosecond timestamps refuse — Spark
    relations carry microseconds and the engine never truncates; use
    decode/export, which restores ns exactly)."""
    if c in set(schema["str_cols"]):
        return "string"
    types = schema.get("int_col_types") or {}
    alias = types.get(c, "int64")
    kind = _plane_kind(alias)
    if kind == "int":
        return _SPARK_TYPE_OF_ALIAS.get(alias, "bigint")
    if kind == "epoch":
        ts = _ts_alias_parts(alias)
        if ts:
            if ts[0] == "ns":
                raise ValueError(
                    f"{c!r} is timestamp[ns]: Spark relations carry "
                    "microseconds and the engine never truncates — "
                    "decode/export restores nanoseconds exactly"
                )
            return "timestamp"
        return "date"
    if kind == "dec":
        return "float" if _dec_alias_parts(alias)[1] == "float" \
            else "double"
    return "float" if alias == "float" else "double"


def _typed_out_expr(schema: dict, c: str, src: str | None = None):
    """Spark Column restoring one worker-emitted plane column (bigint keys
    / string) to the recorded source type — the relation-side counterpart
    of :func:`_restore_plane` (epoch ints via the timestamp/date builtins,
    float total-order keys via an Arrow-vectorized inverse).  ``c`` names
    the dataset column whose type governs; ``src`` the relation column to
    read (default ``c``), which is also the output alias."""
    from pyspark.sql import functions as F

    name = src if src is not None else c
    col = F.col(name)
    if c in set(schema["str_cols"]):
        return col.cast("string").alias(name)
    types = schema.get("int_col_types") or {}
    alias = types.get(c, "int64")
    kind = _plane_kind(alias)
    out_type = _typed_field_type(schema, c)  # raises for ns timestamps
    if kind == "int":
        return col.cast(out_type).alias(name)
    if kind == "epoch":
        ts = _ts_alias_parts(alias)
        if ts:
            conv = {"s": F.timestamp_seconds, "ms": F.timestamp_millis,
                    "us": F.timestamp_micros}[ts[0]]
            return conv(col).alias(name)
        if alias == "date32[day]":
            return F.date_from_unix_date(col.cast("int")).alias(name)
        # date64[ms]: timezone-free restore — timestamp_millis(...).cast
        # ("date") would interpret the instant in the SESSION zone and
        # shift dates by up to a day.  Epoch-ms are midnight-aligned;
        # floor keeps pre-epoch dates safe (exact: |ms| << 2^53).
        return F.date_from_unix_date(
            F.floor(col / F.lit(86400000)).cast("int")
        ).alias(name)
    if kind == "dec":
        scale, _ = _dec_alias_parts(alias)
        # double division by a power of ten: correctly rounded, the same
        # composed path the encode-side representability check verified
        return (
            col.cast("double") / F.lit(float(10 ** scale))
        ).cast(out_type).alias(name)
    hi = F.shiftright(col, 32)
    lo = col.bitwiseAND(F.lit(0xFFFFFFFF))
    unkeyed = _unkey_pandas_udf(alias)(hi, lo)
    # NaN keys restore at the expression layer: the pandas->Arrow return
    # hop converts NaN to NULL (from_pandas semantics), so the UDF cannot
    # carry them.  Any NaN-range key restores as the canonical NaN (a
    # DataFrame cannot observe NaN payload bits anyway); NULL keys make
    # the condition NULL and fall through to the UDF's NULL.
    inf_k, ninf_k, _ = _FLOAT_KEY_LANDMARKS[kind]
    return F.when(
        (col > F.lit(inf_k)) | (col < F.lit(ninf_k)),
        F.lit(float("nan")).cast(out_type),
    ).otherwise(unkeyed).alias(name)


def _unkey_pandas_udf(alias: str):
    """Arrow-batched inverse of the float total-order key map (the one
    Python-side hop typed outputs take; the batch transfer is Arrow, never
    per-row).  The key arrives SPLIT into two 32-bit halves (arithmetic
    hi, unsigned lo): a nullable int64 batch reaches pandas as float64,
    which is lossy above 2^53 — each half is < 2^32 so it survives the
    float64 hop exactly, and the recombined key is bit-identical."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("float" if alias == "float" else "double")
    def unkey(hi: pd.Series, lo: pd.Series) -> pd.Series:
        na = hi.isna().to_numpy()
        h = hi.fillna(0).to_numpy(dtype=np.int64)
        l = lo.fillna(0).to_numpy(dtype=np.int64)
        k = np.bitwise_or(np.left_shift(h, 32), l)
        out = pd.Series(_keys_to_float(k, alias))
        return out.mask(na) if na.any() else out

    return unkey


def _plane_literal(schema: dict, col: str, v, side: str = "lo") -> int:
    """One predicate literal onto the int64 plane of ``col``: plain-int
    columns take ints; timestamp/date columns take ``datetime``/``date``/
    ``numpy.datetime64``/ISO strings (converted in the column's unit) or
    raw epoch ints; float columns take numbers, mapped through the
    total-order key — with ``0`` widened per ``side`` (``lo`` -> the
    ``-0.0`` key, ``hi`` -> the ``+0.0`` key) so SQL's ``-0.0 == 0.0``
    holds on the key plane.  NaN literals are refused (no SQL comparison
    semantics)."""
    alias = (schema.get("int_col_types") or {}).get(col, "int64")
    kind = _plane_kind(alias)
    if kind == "int":
        return int(v)
    if kind == "epoch":
        if isinstance(v, (int, np.integer)):
            return int(v)  # raw epoch in the column's unit
        import datetime as _dt

        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        # exact microsecond epoch first, then side-aware rounding into
        # the column's coarser unit: a literal FINER than the unit must
        # tighten toward the range's inside (lo ceils, hi floors) — plain
        # truncation would widen a lo bound and admit wrong rows
        t_us = int(
            np.datetime64(v).astype("datetime64[us]").astype(np.int64)
        )
        ts = _ts_alias_parts(alias)
        unit = ts[0] if ts else (
            "D" if alias == "date32[day]" else "ms"
        )
        if unit == "ns":
            return t_us * 1000  # finer unit: exact, no rounding
        per_us = {"us": 1, "ms": 1000, "s": 10 ** 6,
                  "D": 86400 * 10 ** 6}[unit]
        q, r = divmod(t_us, per_us)
        return int(q + 1) if side == "lo" and r else int(q)
    fv = float(v)
    if np.isnan(fv):
        raise ValueError(
            f"NaN literal on {col!r}: NaN has no SQL comparison semantics"
        )
    if kind == "dec":
        scale, _ = _dec_alias_parts(alias)
        # the stored grid is the DOUBLES k/10^s (not exact decimals), so
        # bound tightening must compare in double arithmetic: lo -> the
        # smallest grid double >= literal, hi -> the largest <= literal.
        # double(k/10^s) is monotone in k, so checking the neighbors of
        # the nearest k suffices.
        _, src = _dec_alias_parts(alias)
        k0 = int(np.rint(fv * float(10 ** scale)))
        denom = 10 ** scale

        def grid(k):
            g = k / denom
            return float(np.float32(g)) if src == "float" else g

        if side == "lo":
            for k in (k0 - 1, k0, k0 + 1):
                if grid(k) >= fv:
                    return k
            return k0 + 2  # unreachable (k0+1's grid value > fv)
        for k in (k0 + 1, k0, k0 - 1):
            if grid(k) <= fv:
                return k
        return k0 - 2  # unreachable
    if fv == 0.0:
        fv = -0.0 if side == "lo" else 0.0
    dt = np.float32 if alias == "float" else np.float64
    return int(_float_to_keys(np.array([fv], dtype=dt))[0])


def _plane_in_keys(schema: dict, col: str, vals) -> np.ndarray:
    """IN-list literals onto the plane: one key per literal, except a
    float ``0`` contributes BOTH zero keys (``-0.0`` and ``+0.0`` are
    SQL-equal but bit-distinct) and an off-grid decimal literal
    contributes NONE (its lo key rounds up past its hi key — nothing on
    the scaled-int grid equals it)."""
    keys: list[int] = []
    for v in vals:
        lo = _plane_literal(schema, col, v, "lo")
        hi = _plane_literal(schema, col, v, "hi")
        if lo > hi:
            continue  # off-grid decimal literal: equal to no stored value
        keys.append(lo)
        keys.append(hi)
    if not keys:
        # every literal off-grid: an impossible single key (the matcher
        # needs >= 1 literal; zone maps prune it everywhere a real value
        # could live is irrelevant — no row equals it, classification
        # prunes or masks to empty exactly)
        return np.asarray(
            [np.iinfo(np.int64).min], np.int64
        )
    return np.unique(np.asarray(keys, np.int64))


def _require_int_col(enc_dir: str, col: str) -> dict:
    """Load the table schema and validate ``col`` is a zone-mapped int
    column — shared by the scan and its stats sibling so both fail the same
    way on typos and string columns (whose per-block dense-rank codes carry
    meaningless min/max for value predicates)."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    if col not in schema["int_cols"]:
        raise ValueError(
            f"{col!r} is not an int column of this dataset "
            f"(int_cols={schema['int_cols']}); zone maps cover int columns"
        )
    return schema


def _require_summable(schema: dict, col: str) -> None:
    """Aggregate VALUE columns must be plain ints or decimal-declared
    floats (whose scaled-int plane sums exactly): a sum of float
    total-order keys or of timestamp epochs is not the SQL aggregate (and
    SQL itself refuses ``sum(timestamp)``).  min/max/count on typed
    columns go through :func:`minmax_table_files_where` /
    :func:`count_table_files_where`, which stay exact on the key plane."""
    alias = (schema.get("int_col_types") or {}).get(col, "int64")
    if _plane_kind(alias) not in ("int", "dec"):
        raise ValueError(
            f"aggregate value column {col!r} has logical type {alias!r}: "
            "sums are only defined for plain int and decimal-declared "
            "columns (use minmax/count/top-k for other typed columns)"
        )


def zonemap_stats(enc_dir: str, col: str, lo: int, hi: int) -> dict:
    """Driver-side pruning estimate from block METADATA only (a column-
    pruned read of the blocks files — no block payload is touched):
    {blocks_total, blocks_matching, rows_total, rows_in_matching}."""
    schema = _require_int_col(enc_dir, col)
    lo = _plane_literal(schema, col, lo, "lo")
    hi = _plane_literal(schema, col, hi, "hi")
    total = match = rows = rows_m = 0
    for path in _live_block_files(enc_dir):
        t = _read_filtered(
            path, ["n_values", "n_runs", "min_val", "max_val"], col=col,
        )
        nv = t.column("n_values").to_numpy()
        nr = t.column("n_runs").to_numpy()
        mn = t.column("min_val").to_numpy()
        mx = t.column("max_val").to_numpy()
        keep = (nr > 0) & (mx >= lo) & (mn <= hi)
        total += len(t)
        match += int(keep.sum())
        rows += int(nv.sum())
        rows_m += int(nv[keep].sum())
    return {
        "blocks_total": total,
        "blocks_matching": match,
        "rows_total": rows,
        "rows_in_matching": rows_m,
    }


def _literals_matcher(values: tuple[bytes, ...]):
    """Per-block dictionary matcher for eq / IN-list literals: matching
    codes are the per-block ranks of the literals the dictionary contains."""
    def match(uniq) -> np.ndarray:
        import pyarrow as pa
        import pyarrow.compute as pc

        # one is_in pass over the dictionary: O(ndv + literals), not a
        # full-dictionary pc.index scan per literal (the DPP path routes
        # up to 10k keys through here)
        mask = pc.is_in(
            uniq, value_set=pa.array(values, uniq.type)
        ).to_numpy(zero_copy_only=False)
        return np.flatnonzero(mask).astype(np.int64)

    return match


def _make_scan_worker(schema: dict, preds: list[dict],
                      out_names: list[str],
                      symbols_hex: tuple[str, ...] | None = None):
    """Scan worker over one blocks file for a CONJUNCTION of predicates.
    Each pred is a normalized spec (see :func:`_norm_preds`): an int
    zone-map range (``{"kind": "range", "col", "lo", "hi"}`` — blocks whose
    [min_val, max_val] misses [lo, hi] prune via parquet filters on the
    payload-free metadata read) or a string dictionary membership
    (``{"kind": "member", "col", "match", "eq_single"}`` — ``match`` maps a
    block's decoded dictionary to its matching codes; a block prunes when
    its sidecar contains NO matching entry; eq / IN / BETWEEN / prefix are
    all such matchers).  The per-file surviving block set is the
    INTERSECTION across predicates, so payload IO is bounded by the most
    selective predicate; row masks AND together.  A single-literal member
    pred whose column is projected keeps the equality fast path: kept rows
    ARE the literal, no second decode, no dictionary gather."""
    str_cols = set(schema["str_cols"])
    symbols = _symbol_list(symbols_hex)
    int_preds, mem_preds, or_nodes = _spec_parts(preds)
    mem_cols = [p["col"] for p in mem_preds]
    # first member pred per column: its phase-1 dictionaries serve the
    # projection gather for that column (any pred's would do — kept rows
    # satisfy ALL preds)
    mem_by_col = {
        p["col"]: pi
        for pi, p in reversed(list(enumerate(mem_preds)))
        if p["col"] in str_cols
    }
    # equality fast path: exactly one member pred on the column AND it is
    # single-literal -> every kept row IS the literal
    eq_single_by_col = {
        p["col"]: p["eq_single"]
        for p in mem_preds
        if p.get("eq_single") is not None and mem_cols.count(p["col"]) == 1
    }
    pred_cols = _spec_cols(preds)

    def _empty_frame() -> pd.DataFrame:
        return pd.DataFrame(
            {
                c: (pd.Series([], dtype=object) if c in str_cols
                    else pd.Series(np.empty(0, np.int64)))
                for c in out_names
            }
        )

    meta_pred_cols = sorted(
        {p["col"] for p in int_preds}
        | {atom["col"] for node in or_nodes for leaf in node
           for atom in _leaf_atoms(leaf)
           if atom["kind"] in ("range", "valid")}
    )
    all_mem_cols = sorted(
        set(mem_cols)
        | {atom["col"] for node in or_nodes for leaf in node
           for atom in _leaf_atoms(leaf)
           if atom["kind"] == "member"}
    )

    def phase1(path, file_sid, seg):
        from rlv import blocks as B

        # phase 1 — METADATA only (no payload column): ONE
        # payload-free read covers every metadata-predicate column
        # (top-level + OR leaves) and classification runs in
        # Python — exact, incl. IN-list literal membership (a
        # parquet [min, max] envelope filter would keep blocks no
        # literal falls inside); ONE sidecar read covers every
        # membership column, each dictionary decoded once however
        # many preds reference it.  The file's surviving ordinals
        # are the INTERSECTION across preds; pruned blocks never
        # materialize payload.
        # metadata covers the membership columns too: their
        # (n_values, n_nulls) let a member pred whose whole
        # dictionary matches a no-NULL block classify FULL, which
        # the payload planner below exploits
        meta_read_cols = sorted(
            set(meta_pred_cols) | set(all_mem_cols)
        )
        col_info: dict[str, dict[tuple[str, int], tuple]] = {
            c: {} for c in meta_read_cols
        }
        if meta_read_cols:
            meta = _read_filtered(
                path,
                ["split_seq", "col_name", "block_idx", "n_values",
                 "n_nulls", "n_runs", "min_val", "max_val"],
                col=meta_read_cols, seg=seg,
            )
            for sid, mseg in _split_segments(meta, file_sid):
                for name, bi, nv, nn, nr, mn, mx in zip(
                    mseg.column("col_name").to_pylist(),
                    mseg.column("block_idx").to_numpy(),
                    mseg.column("n_values").to_numpy(),
                    mseg.column("n_nulls").to_numpy(),
                    mseg.column("n_runs").to_numpy(),
                    mseg.column("min_val").to_numpy(),
                    mseg.column("max_val").to_numpy(),
                ):
                    col_info[name][(sid, int(bi))] = (
                        int(nv), int(nn), int(nr), int(mn),
                        int(mx),
                    )

        def _int_phase1(p, col_info=col_info) -> set[int]:
            return {
                bi for _, bi
                in _int_leaf_class_map(p, col_info[p["col"]])
            }

        # sidecar read is LAZY: when the int-predicate
        # intersection already pruned the whole file (the common
        # case on a zone-map-clustered range), no dictionary byte
        # is ever read
        side_state: dict = {}
        dict_cache: dict[tuple[str, str, int], object] = {}

        def _mem_phase1(p, path=path, file_sid=file_sid, seg=seg,
                        side_state=side_state,
                        dict_cache=dict_cache):
            if "side" not in side_state:
                side_state["side"] = _read_dict_sidecar(
                    path, file_sid, col=all_mem_cols, seg=seg,
                )
            codes: dict[tuple[str, int], np.ndarray] = {}
            dicts: dict[tuple[str, int], object] = {}
            for (sid, name, bi), blob in side_state["side"].items():
                if name != p["col"]:
                    continue
                uniq = dict_cache.get((sid, name, bi))
                if uniq is None:
                    uniq = B.decode_strings_arrow(blob, symbols)
                    dict_cache[(sid, name, bi)] = uniq
                hits = p["match"](uniq)
                if hits.size:
                    codes[(sid, bi)] = hits
                    dicts[(sid, bi)] = uniq
            return codes, dicts

        surviving: set[int] | None = None
        for p in int_preds:
            s = _int_phase1(p)
            surviving = s if surviving is None else (surviving & s)
            if not surviving:
                break
        mem_codes: list[dict[tuple[str, int], np.ndarray]] = []
        mem_dicts: list[dict[tuple[str, int], object]] = []
        if surviving is None or surviving:
            for p in mem_preds:
                codes, dicts = _mem_phase1(p)
                mem_codes.append(codes)
                mem_dicts.append(dicts)
                s = {bi for _, bi in codes}
                surviving = (
                    s if surviving is None else (surviving & s)
                )
                if not surviving:
                    break
        # OR nodes: each node's survivors are the UNION of its
        # leaf survivors; the file still INTERSECTS across nodes
        or_leaf: list[list] = []
        if surviving is None or surviving:
            for node in or_nodes:
                node_surv: set[int] = set()
                ldata: list = []
                for leaf in node:
                    if leaf["kind"] == "andgroup":
                        # group survivors = INTERSECTION over its
                        # conjuncts (the branch is an AND)
                        g_surv: set[int] | None = None
                        adata: list = []
                        for atom in leaf["specs"]:
                            if atom["kind"] in ("range", "valid"):
                                s = _int_phase1(atom)
                                adata.append(None)
                            else:
                                codes, dicts = _mem_phase1(atom)
                                adata.append((codes, dicts))
                                s = {bi for _, bi in codes}
                            g_surv = (
                                s if g_surv is None
                                else (g_surv & s)
                            )
                        node_surv |= g_surv or set()
                        ldata.append(adata)
                    elif leaf["kind"] in ("range", "valid"):
                        node_surv |= _int_phase1(leaf)
                        ldata.append(None)
                    else:
                        codes, dicts = _mem_phase1(leaf)
                        ldata.append((codes, dicts))
                        node_surv |= {bi for _, bi in codes}
                or_leaf.append(ldata)
                surviving = (
                    node_surv if surviving is None
                    else (surviving & node_surv)
                )
                if not surviving:
                    break
        if not surviving:
            return None
        surviving_idx = sorted(surviving)
        # SEGMENT-FULL predicates: a predicate that full-matches
        # EVERY surviving block contributes an all-true mask, so
        # it never decodes — and if nothing else references its
        # column, the column's payload is never even READ (on a
        # zone-map-clustered range the interior tasks read ONLY
        # the projected columns; the predicate column's whole
        # row group skips).
        def _keys_of(c):
            return [k for k in col_info[c] if k[1] in surviving]

        int_full = []
        for p in int_preds:
            clmap = _int_leaf_class_map(p, col_info[p["col"]])
            keys_c = _keys_of(p["col"])
            int_full.append(
                bool(keys_c)
                and all(clmap.get(k) == "full" for k in keys_c)
            )
        mem_full_flags = []
        for pi, p in enumerate(mem_preds):
            keys_c = _keys_of(p["col"])
            mem_full_flags.append(
                bool(keys_c)
                and all(
                    k in mem_codes[pi]
                    and mem_codes[pi][k].size
                    == len(mem_dicts[pi][k])
                    and col_info[p["col"]][k][1] == 0
                    for k in keys_c
                )
            )
        needed_mask_cols = {
            p["col"]
            for i, p in enumerate(int_preds)
            if not int_full[i]
        } | {
            p["col"]
            for pi, p in enumerate(mem_preds)
            if not mem_full_flags[pi] and not p.get("mask_free")
        } | {
            atom["col"] for node in or_nodes for leaf in node
            for atom in _leaf_atoms(leaf)
        }
        read_names = list(dict.fromkeys(
            [*[c for c in pred_cols if c in needed_mask_cols],
             *out_names]
        ))
        return {
            "col_info": col_info, "surviving": surviving_idx,
            "mem_codes": mem_codes, "mem_dicts": mem_dicts,
            "or_leaf": or_leaf, "int_full": int_full,
            "mem_full_flags": mem_full_flags,
            "read_names": read_names,
        }

    def bill(plan) -> int:
        if plan is None:
            return 0
        surv = set(plan["surviving"])
        rows = next(iter(plan["col_info"].values()), {})
        return len(plan["read_names"]) * sum(
            v[0] for k, v in rows.items() if k[1] in surv
        )

    def finish(path, file_sid, seg, plan) -> pd.DataFrame:
        import pyarrow as pa

        from rlv import blocks as B

        if plan is None:
            return _empty_frame()
        surviving_idx = plan["surviving"]
        mem_codes, mem_dicts = plan["mem_codes"], plan["mem_dicts"]
        or_leaf, int_full = plan["or_leaf"], plan["int_full"]
        mem_full_flags = plan["mem_full_flags"]
        read_names = plan["read_names"]
        # phase 2 — payloads for SURVIVING block ordinals only (the
        # in-filter over-reads a block_idx that survives in one
        # segment but not another; segments prune exactly below),
        # and only for columns a mask or the projection needs
        btbl = _read_filtered(
            path,
            ["split_seq", "col_name", "block_idx", "n_values",
             "n_nulls", "n_runs", "min_val", "max_val", "block"],
            col=read_names, seg=seg, block_idx=surviving_idx,
        )
        # dictionaries only for the PROJECTED string columns'
        # surviving ordinals (a member pred's column needs no
        # second read: eq kept rows ARE the literal, the rest
        # gather from phase 1's cached dictionaries)
        proj_strs = sorted(
            c for c in str_cols.intersection(out_names)
            if c not in mem_by_col
        )
        side = (
            _read_dict_sidecar(
                path, file_sid, col=proj_strs,
                block_idx=surviving_idx, seg=seg,
            )
            if proj_strs
            else {}
        )
        outs: dict[str, list] = {c: [] for c in out_names}
        for seq, sseg in _split_segments(btbl, file_sid):
            per: dict[str, dict[int, tuple]] = {
                c: {} for c in read_names
            }
            for name, bi, nv, nn, nr, mn, mx, blob in zip(
                sseg.column("col_name").to_pylist(),
                sseg.column("block_idx").to_numpy(),
                sseg.column("n_values").to_numpy(),
                sseg.column("n_nulls").to_numpy(),
                sseg.column("n_runs").to_numpy(),
                sseg.column("min_val").to_numpy(),
                sseg.column("max_val").to_numpy(),
                sseg.column("block").to_pylist(),
            ):
                per[name][int(bi)] = (
                    int(nv), int(nr), int(mn), int(mx), blob,
                    int(nn),
                )
            # segment-exact survivors: re-run every NON-FULL
            # pred's block test against THIS segment's metadata
            # and intersect (a segment-full pred survives all its
            # keys by construction; its column may not be read)
            surv: set[int] | None = None
            for i, p in enumerate(int_preds):
                if int_full[i]:
                    continue
                s = {
                    bi
                    for bi, (nv, nr, mn, mx, _, nn)
                    in per[p["col"]].items()
                    if _int_pred_class(p, nv, nn, nr, mn, mx)
                    is not None
                }
                surv = s if surv is None else (surv & s)
            for pi, p in enumerate(mem_preds):
                if mem_full_flags[pi] or p.get("mask_free"):
                    continue
                s = {
                    bi for bi in per[p["col"]]
                    if (seq, bi) in mem_codes[pi]
                }
                surv = s if surv is None else (surv & s)
            def _atom_seg_surv(atom, ld, per=per, seq=seq):
                if atom["kind"] in ("range", "valid"):
                    return {
                        bi
                        for bi, (nv, nr, mn, mx, _, nn)
                        in per[atom["col"]].items()
                        if _int_pred_class(
                            atom, nv, nn, nr, mn, mx
                        ) is not None
                    }
                codes, _ = ld
                return {
                    bi for bi in per[atom["col"]]
                    if (seq, bi) in codes
                }

            for node, ldata in zip(or_nodes, or_leaf):
                s = set()
                for leaf, ld in zip(node, ldata):
                    if leaf["kind"] == "andgroup":
                        gs: set[int] | None = None
                        for atom, ad in zip(leaf["specs"], ld):
                            asrv = _atom_seg_surv(atom, ad)
                            gs = asrv if gs is None \
                                else (gs & asrv)
                        s |= gs or set()
                    else:
                        s |= _atom_seg_surv(leaf, ld)
                surv = s if surv is None else (surv & s)
            if surv is None:
                # every pred segment-full: all fetched ordinals of
                # this segment survive
                surv = set(per[read_names[0]])
            survivors = sorted(surv)
            if not survivors:
                continue
            anchor = read_names[0]
            decoded: dict[str, tuple] = {}

            def _decode_col(c, per=per, survivors=survivors,
                            decoded=decoded, anchor=anchor):
                if c in decoded:
                    return decoded[c]
                for bi in survivors:
                    if per[c][bi][0] != per[anchor][bi][0]:
                        raise ValueError(
                            f"column {c!r} and {anchor!r} disagree "
                            f"on rows in block {bi} — corrupt "
                            "dataset"
                        )
                trip = B.decode_blocks_batch_nullable(
                    [per[c][bi][4] for bi in survivors],
                    np.int64,
                    expected=[per[c][bi][0] for bi in survivors],
                )
                if decoded:
                    ref = next(iter(decoded.values()))[1]
                    if not np.array_equal(trip[1], ref):
                        raise ValueError(
                            f"column {c!r} and {anchor!r} blocks "
                            "disagree on row counts — corrupt "
                            "dataset"
                        )
                decoded[c] = trip
                return trip

            # row mask = AND over the NON-FULL preds (a
            # segment-full pred matches every row — no decode)
            m = None
            for i, p in enumerate(int_preds):
                if int_full[i]:
                    continue
                vals, _, vvalid = _decode_col(p["col"])
                pm = _int_pred_rowmask(p, vals, vvalid)
                m = pm if m is None else (m & pm)
            for pi, p in enumerate(mem_preds):
                if mem_full_flags[pi] or p.get("mask_free"):
                    continue
                vals, voffs, vvalid = _decode_col(p["col"])
                # per-block code SETS; a block whose whole
                # dictionary matches skips the isin (every valid
                # row matches)
                pm = vvalid.copy()
                for j, bi in enumerate(survivors):
                    codes = mem_codes[pi][(seq, bi)]
                    if codes.size == len(mem_dicts[pi][(seq, bi)]):
                        continue
                    sl = slice(int(voffs[j]), int(voffs[j + 1]))
                    pm[sl] &= np.isin(vals[sl], codes)
                m = pm if m is None else (m & pm)
            def _atom_rowmask(atom, ld, seq=seq,
                              survivors=survivors):
                vals, voffs, vvalid = _decode_col(atom["col"])
                if atom["kind"] in ("range", "valid"):
                    return _int_pred_rowmask(atom, vals, vvalid)
                codes, dicts = ld
                pm = np.zeros(vvalid.size, bool)
                for j, bi in enumerate(survivors):
                    cs = codes.get((seq, bi))
                    if cs is None:
                        continue
                    sl = slice(int(voffs[j]), int(voffs[j + 1]))
                    if cs.size == len(dicts[(seq, bi)]):
                        pm[sl] = vvalid[sl]
                    else:
                        pm[sl] = vvalid[sl] & np.isin(
                            vals[sl], cs
                        )
                return pm

            for node, ldata in zip(or_nodes, or_leaf):
                # node mask = UNION of leaf masks (a leaf with no
                # survivors at a block contributes nothing there);
                # an andgroup leaf's mask = AND over its conjuncts
                nm = None
                for leaf, ld in zip(node, ldata):
                    if leaf["kind"] == "andgroup":
                        pm = None
                        for atom, ad in zip(leaf["specs"], ld):
                            am = _atom_rowmask(atom, ad)
                            pm = am if pm is None else (pm & am)
                    else:
                        pm = _atom_rowmask(leaf, ld)
                    nm = pm if nm is None else (nm | pm)
                m = nm if m is None else (m & nm)
            if m is None:
                # every pred segment-full: keep all rows
                m = np.ones(
                    sum(per[anchor][bi][0] for bi in survivors),
                    dtype=bool,
                )
            for c in out_names:
                if c in eq_single_by_col:
                    # eq predicate column: every kept row IS the
                    # literal — no second decode, no dict gather
                    outs[c].append(
                        pa.array(
                            [eq_single_by_col[c]] * int(m.sum()),
                            pa.binary(),
                        )
                    )
                    continue
                if c in mem_by_col:
                    # member predicate column: gather kept rows
                    # from phase 1's cached dictionaries through
                    # the already-decoded code stream — no second
                    # sidecar read, no second payload decode
                    pi = mem_by_col[c]
                    vals, voffs, _ = _decode_col(c)
                    parts = []
                    for j, bi in enumerate(survivors):
                        sl = slice(int(voffs[j]),
                                   int(voffs[j + 1]))
                        codes = vals[sl][m[sl]]
                        parts.append(
                            mem_dicts[pi][(seq, bi)].take(
                                pa.array(codes)
                            )
                        )
                    outs[c].append(
                        pa.concat_arrays(
                            [p.combine_chunks()
                             if hasattr(p, "chunks") else p
                             for p in parts]
                        )
                    )
                    continue
                if c in str_cols:
                    # codes (validity-wrapped) + per-block dict
                    # gather; a NULL code gathers a NULL value
                    parts = []
                    for bi in survivors:
                        if per[c][bi][0] != per[anchor][bi][0]:
                            raise ValueError(
                                f"column {c!r} and {anchor!r} "
                                f"disagree on rows in block {bi} "
                                "— corrupt dataset"
                            )
                        codes, _, cv = (
                            B.decode_blocks_batch_nullable(
                                [per[c][bi][4]], np.int64,
                                expected=[per[c][bi][0]],
                            )
                        )
                        uniq = B.decode_strings_arrow(
                            side[(seq, c, bi)], symbols
                        )
                        idx = (
                            pa.array(codes)
                            if cv.all()
                            else pa.array(codes, pa.int64(),
                                          mask=~cv)
                        )
                        parts.append(uniq.take(idx))
                    arr = pa.concat_arrays(
                        [p.combine_chunks() if hasattr(p, "chunks")
                         else p for p in parts]
                    )
                    if len(arr) != m.size:
                        raise ValueError(
                            f"column {c!r} and {anchor!r} blocks "
                            "disagree on row counts"
                        )
                    outs[c].append(arr.filter(pa.array(m)))
                else:
                    cv_vals, _, cv_valid = _decode_col(c)
                    outs[c].append((cv_vals[m], ~cv_valid[m]))
        if not outs[out_names[0]]:
            return _empty_frame()
        return pd.DataFrame(
            {
                c: (
                    pa.concat_arrays(outs[c])
                    .cast(pa.string())
                    .to_pandas()
                    if c in str_cols
                    else pd.Series(
                        pd.arrays.IntegerArray(
                            np.concatenate(
                                [v for v, _ in outs[c]]
                            ),
                            np.concatenate(
                                [mk for _, mk in outs[c]]
                            ),
                        )
                    )
                )
                for c in out_names
            }
        )

    return _TaskOp(finish, phase1, bill)


def scan_table_files(
    spark: SparkSession, enc_dir: str, col: str, lo: int, hi: int,
    columns: list[str] | None = None,
):
    """Pruned projection scan over an encoded table: rows where ``lo <=
    col <= hi`` (NULLs excluded, SQL BETWEEN semantics), projected to
    ``columns`` — any mix of int columns (returned at their recorded
    source widths, NULLs preserved) and string columns (dictionary-gathered
    per block, NULLs preserved).  ``columns=None`` keeps the classic shape:
    ``(order_col, col)``, or just ``(order_col,)`` when the scanned column
    IS the sort key.

    One task per live blocks file, zero shuffle.  The zone-map predicate
    runs as PARQUET FILTERS on a payload-free metadata read first, so
    pruned blocks are neither decoded NOR materialized from disk; only
    surviving block ordinals' payloads are fetched — and only for the
    PROJECTED columns, so a 2-column read of a 50-column table never
    touches the other 48 (column pruning inside our own format).  On a
    sorted or clustered column the scan touches O(selectivity) of the
    data, the same block-skipping a warehouse gets from parquet page
    stats, here served by OUR metadata so the payload format never needs
    parquet's reader.  :func:`zonemap_stats` reports the pruning ratio
    from metadata alone.  Predicate column must be int (string zone maps
    would need order statistics the dictionary sidecar does not record —
    by design: dense codes are per-block ranks)."""
    schema = _require_int_col(enc_dir, col)
    out_names = _scan_out_names(schema, col, columns)
    worker = _make_scan_worker(
        schema,
        [{"kind": "range", "col": col,
          "lo": _plane_literal(schema, col, lo, "lo"),
          "hi": _plane_literal(schema, col, hi, "hi")}],
        out_names,
        symbols_hex=_symbols_hex(enc_dir),
    )
    return _run_scan_tasks(spark, enc_dir, schema, out_names, worker)


def scan_table_files_eq(
    spark: SparkSession, enc_dir: str, col: str, value: str,
    columns: list[str] | None = None,
):
    """STRING-equality pushdown into the encoded format: rows where
    ``col = value`` (NULL never matches, SQL equality), projected to
    ``columns`` (default ``(order_col, col)``) — the string counterpart of
    :func:`scan_table_files`'s int range scan.

    String blocks carry per-block dense-rank codes plus a dictionary
    sidecar of the block's sorted distinct VALID values, so equality prunes
    on dictionary MEMBERSHIP: phase 1 decodes only the (small) sidecar and
    keeps blocks whose dictionary contains the literal, recording the
    literal's per-block rank; phase 2 fetches payloads for survivors only
    and matches their code streams against that rank.  A selective literal
    touches O(blocks containing it) payload bytes — the dictionary-page
    filtering a warehouse gets from parquet, served by our sidecar (and the
    reason string columns need no value zone maps: ranks are per-block,
    membership is the pruning statistic; see :func:`strdict_stats`)."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    if col not in schema["str_cols"]:
        raise ValueError(
            f"{col!r} is not a string column of this dataset "
            f"(str_cols={schema['str_cols']}); for int equality use "
            "scan_table_files(col, v, v)"
        )
    out_names = _scan_out_names(schema, col, columns)
    v = value.encode("utf-8")
    worker = _make_scan_worker(
        schema,
        [{"kind": "member", "col": col,
          "match": _literals_matcher((v,)), "eq_single": v}],
        out_names,
        symbols_hex=_symbols_hex(enc_dir),
    )
    return _run_scan_tasks(spark, enc_dir, schema, out_names, worker)


def scan_table_files_in(
    spark: SparkSession, enc_dir: str, col: str, values: list[str],
    columns: list[str] | None = None,
):
    """STRING IN-list pushdown into the encoded format: rows where
    ``col IN (values...)`` (NULL never matches, SQL membership), projected
    to ``columns`` (default ``(order_col, col)``) — the multi-literal
    generalization of :func:`scan_table_files_eq`.

    Phase 1 decodes only the dictionary sidecars and keeps blocks whose
    dictionary contains AT LEAST ONE literal, recording the present
    literals' per-block ranks; phase 2 fetches survivors' payloads and
    matches each block's code stream against its own code SET.  Pruning is
    the union of the single-literal membership prunes, so a selective
    literal list touches O(blocks containing any literal) payload bytes.
    Duplicates in ``values`` collapse; an empty list is refused (SQL's
    ``IN ()`` is a syntax error)."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    if col not in schema["str_cols"]:
        raise ValueError(
            f"{col!r} is not a string column of this dataset "
            f"(str_cols={schema['str_cols']}); for int membership compose "
            "scan_table_files range predicates"
        )
    uniq = tuple(sorted({v.encode("utf-8") for v in values}))
    if not uniq:
        raise ValueError("values must name at least one literal")
    out_names = _scan_out_names(schema, col, columns)
    worker = _make_scan_worker(
        schema,
        [{"kind": "member", "col": col,
          "match": _literals_matcher(uniq),
          "eq_single": uniq[0] if len(uniq) == 1 else None}],
        out_names,
        symbols_hex=_symbols_hex(enc_dir),
    )
    return _run_scan_tasks(spark, enc_dir, schema, out_names, worker)


def _str_range_matcher(lo_b: bytes, hi_b: bytes):
    """Per-block dictionary matcher for ``lo <= col <= hi`` (bytewise —
    UTF-8 byte order == code-point order, the binary collation DuckDB and
    Spark both default to): matching codes are the dictionary entries
    inside the closed range, computed vectorized over the (small) sidecar."""
    def match(uniq) -> np.ndarray:
        import pyarrow as pa
        import pyarrow.compute as pc

        m = pc.and_(
            pc.greater_equal(uniq, pa.scalar(lo_b, uniq.type)),
            pc.less_equal(uniq, pa.scalar(hi_b, uniq.type)),
        )
        return np.flatnonzero(m.to_numpy(zero_copy_only=False))

    return match


def _str_prefix_matcher(prefix: bytes):
    """Per-block dictionary matcher for ``col LIKE 'prefix%'``: matching
    codes are the entries whose first ``len(prefix)`` bytes equal the
    prefix (``binary_slice`` never over-reads: shorter entries slice short
    and fail the equality).  The empty prefix matches every valid entry —
    SQL's ``LIKE '%'``."""
    def match(uniq) -> np.ndarray:
        import pyarrow as pa
        import pyarrow.compute as pc

        if not prefix:
            return np.arange(len(uniq), dtype=np.int64)
        m = pc.equal(
            pc.binary_slice(uniq, 0, len(prefix)),
            pa.scalar(prefix, uniq.type),
        )
        return np.flatnonzero(m.to_numpy(zero_copy_only=False))

    return match


def _str_contains_matcher(needle: bytes):
    """Per-block dictionary matcher for ``col LIKE '%needle%'``: matching
    codes are the entries containing ``needle`` as a byte substring
    (vectorized Arrow ``match_substring`` over the sorted-distinct
    sidecar).  Unlike prefix/range the dictionary's SORT order can't
    bound the search — but the sidecar is still tiny next to the payload,
    so blocks whose dictionary holds no match prune without a payload
    byte, exactly like the other membership predicates.  The empty needle
    is SQL's ``LIKE '%%'`` — every valid entry."""
    def match(uniq) -> np.ndarray:
        import pyarrow.compute as pc

        if not needle:
            return np.arange(len(uniq), dtype=np.int64)
        m = pc.match_substring(uniq, needle)
        return np.flatnonzero(m.to_numpy(zero_copy_only=False))

    return match


def _str_suffix_matcher(suffix: bytes):
    """Per-block dictionary matcher for ``col LIKE '%suffix'``: matching
    codes are the entries whose trailing bytes equal ``suffix``
    (vectorized Arrow ``ends_with``).  The empty suffix matches every
    valid entry."""
    def match(uniq) -> np.ndarray:
        import pyarrow.compute as pc

        if not suffix:
            return np.arange(len(uniq), dtype=np.int64)
        m = pc.ends_with(uniq, suffix)
        return np.flatnonzero(m.to_numpy(zero_copy_only=False))

    return match


def _require_str_col(enc_dir: str, col: str, what: str) -> dict:
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    if col not in schema["str_cols"]:
        raise ValueError(
            f"{col!r} is not a string column of this dataset "
            f"(str_cols={schema['str_cols']}); for int {what} use "
            "scan_table_files range predicates"
        )
    return schema


def scan_table_files_str_range(
    spark: SparkSession, enc_dir: str, col: str, lo: str, hi: str,
    columns: list[str] | None = None,
):
    """STRING-range pushdown into the encoded format: rows where
    ``lo <= col <= hi`` (NULL never matches, SQL BETWEEN under binary
    collation), projected to ``columns`` (default ``(order_col, col)``).

    Int columns prune on value zone maps; string columns don't record one
    — but they don't need to: each block's dictionary sidecar IS its
    sorted-distinct valid values, so the range predicate evaluates
    per-block against the (small) sidecar alone.  A block prunes when NO
    dictionary entry falls in [lo, hi]; survivors match their code stream
    against the in-range entries' rank set, and a block whose whole
    dictionary is in range keeps every valid row without an isin pass.
    ``lo > hi`` is the SQL empty range.  Payload bytes read are O(blocks
    containing an in-range value) — string zone-map pruning served by the
    sidecar."""
    schema = _require_str_col(enc_dir, col, "ranges")
    out_names = _scan_out_names(schema, col, columns)
    worker = _make_scan_worker(
        schema,
        [{"kind": "member", "col": col,
          "match": _str_range_matcher(
              lo.encode("utf-8"), hi.encode("utf-8")
          ),
          "eq_single": None}],
        out_names,
        symbols_hex=_symbols_hex(enc_dir),
    )
    return _run_scan_tasks(spark, enc_dir, schema, out_names, worker)


def scan_table_files_prefix(
    spark: SparkSession, enc_dir: str, col: str, prefix: str,
    columns: list[str] | None = None,
):
    """LIKE-prefix pushdown into the encoded format: rows where
    ``col LIKE 'prefix%'`` (NULL never matches), projected to ``columns``
    (default ``(order_col, col)``).

    Same membership machinery as :func:`scan_table_files_str_range`: the
    prefix predicate evaluates against each block's dictionary sidecar
    (vectorized ``binary_slice`` equality over the sorted-distinct
    entries), blocks with no prefixed entry prune without touching their
    payload, and survivors match per-block rank sets.  The empty prefix is
    SQL's ``LIKE '%'`` — every non-NULL row."""
    schema = _require_str_col(enc_dir, col, "prefixes")
    out_names = _scan_out_names(schema, col, columns)
    worker = _make_scan_worker(
        schema,
        [{"kind": "member", "col": col,
          "match": _str_prefix_matcher(prefix.encode("utf-8")),
          "eq_single": None}],
        out_names,
        symbols_hex=_symbols_hex(enc_dir),
    )
    return _run_scan_tasks(spark, enc_dir, schema, out_names, worker)


def _invert_matcher(match):
    """Complement a dictionary matcher: entries the inner matcher does NOT
    hit.  SQL NULL semantics are unchanged (NULL never matches a negated
    predicate either — ``x <> v`` is UNKNOWN for NULL x), so negation
    happens over dictionary ENTRIES, never over the validity plane."""
    def neg(uniq) -> np.ndarray:
        hits = match(uniq)
        keep = np.ones(len(uniq), bool)
        keep[hits] = False
        return np.flatnonzero(keep).astype(np.int64)

    return neg


def _norm_preds(schema: dict, preds, _top: bool = True) -> list[dict]:
    """Normalize user predicate tuples to worker specs.  Accepted forms:
    ``("between", int_col, lo, hi)`` / ``("not_between", int_col, lo, hi)``,
    ``("int_in", int_col, [values...])`` (zone maps prune blocks no literal
    falls inside; constant blocks whose value is a literal full-match),
    ``("eq", str_col, value)`` / ``("ne", str_col, value)``,
    ``("in", str_col, [values...])`` / ``("not_in", str_col, [values...])``,
    ``("str_between", str_col, lo, hi)``, ``("prefix", str_col, p)`` /
    ``("contains", str_col, s)`` / ``("suffix", str_col, s)`` (each with
    a ``not_``-prefixed negation — the LIKE family ``'p%'`` / ``'%s%'``
    / ``'%s'``), and the validity predicates
    ``("isnull", col)`` / ``("notnull", col)`` on EITHER column kind
    (classified from block ``(n_values, n_nulls)`` metadata alone).  Column
    kinds are validated here so a typo fails on the driver, not in a
    task.

    Boolean structure: the ``preds`` list is a CONJUNCTION; ``("or",
    [branch, ...])`` nodes disjoin branches, and each branch may be a
    leaf or ``("and", [leaf, ...])`` — full OR-of-AND inside the
    top-level AND, i.e. any one-alternation WHERE clause.  A top-level
    ``("and", [...])`` splices into the conjunction.  Deeper nesting
    (OR inside a branch's AND) is refused loudly — normalize the clause
    to AND-of-OR-of-AND first.  An ``andgroup`` branch classifies as the
    MIN over its conjuncts (pruned if any conjunct prunes, full if all
    do) and masks as the AND of their row masks.

    A ``between`` / ``int_in`` on an INDEXED int column (``index_cols``)
    additionally emits a classification-only membership spec over the
    column's sidecar keys (``mask_free``: it prunes and full-matches
    blocks but never masks rows — the paired range spec masks exactly),
    so point lookups on unclustered keys skip the blocks that don't hold
    the key.  Top-level only: inside an OR node an extra spec would widen
    the disjunction."""
    specs: list[dict] = []
    known_arity = {
        "between": 4, "not_between": 4, "raw_between": 4, "int_in": 3,
        "eq": 3, "ne": 3, "in": 3, "not_in": 3, "str_between": 4,
        "prefix": 3, "not_prefix": 3, "isnull": 2, "notnull": 2,
        "contains": 3, "not_contains": 3, "suffix": 3, "not_suffix": 3,
    }
    for p in preds:
        if not isinstance(p, (tuple, list)) or len(p) < 2:
            raise ValueError(f"malformed predicate {p!r}")
        kind, col = p[0], p[1]
        if kind == "and":
            # top-level AND splices into the conjunction (the whole preds
            # list IS an AND); inside an OR branch it becomes an andgroup
            # leaf below
            if len(p) != 2 or not isinstance(col, (tuple, list)):
                raise ValueError(
                    f"malformed predicate {p!r}: 'and' takes one list of "
                    "conjunct predicates"
                )
            specs.extend(_norm_preds(schema, list(col), _top=_top))
            continue
        if kind == "or":
            if len(p) != 2 or not isinstance(col, (tuple, list)):
                raise ValueError(
                    f"malformed predicate {p!r}: 'or' takes one list of "
                    "branch predicates"
                )
            branches: list[dict] = []
            for b in col:
                if isinstance(b, (tuple, list)) and len(b) == 2 \
                        and b[0] == "and":
                    conj = _norm_preds(schema, list(b[1]), _top=False)
                    if any(c["kind"] in ("or", "andgroup") for c in conj):
                        raise ValueError(
                            "OR branches nest at most one AND level: "
                            "('or', [..., ('and', [leaf, ...]), ...])"
                        )
                    if len(conj) == 1:
                        branches.append(conj[0])
                    else:
                        branches.append(
                            {"kind": "andgroup", "specs": conj}
                        )
                    continue
                branches.extend(_norm_preds(schema, [b], _top=False))
            if any(b["kind"] == "or" for b in branches):
                raise ValueError("nested OR predicates are not supported")
            if len(branches) == 1:
                specs.append(branches[0])
            else:
                specs.append({"kind": "or", "specs": branches})
            continue
        if kind not in known_arity:
            raise ValueError(f"unknown predicate kind {kind!r}")
        if len(p) != known_arity[kind]:
            raise ValueError(
                f"malformed predicate {p!r}: {kind!r} takes "
                f"{known_arity[kind] - 1} argument(s)"
            )
        if kind in ("isnull", "notnull"):
            if col not in schema["int_cols"] and \
                    col not in schema["str_cols"]:
                raise ValueError(
                    f"{col!r} is not a column of this dataset "
                    f"(int_cols={schema['int_cols']} "
                    f"str_cols={schema['str_cols']})"
                )
            specs.append({"kind": "valid", "col": col,
                          "want_null": kind == "isnull"})
            continue
        if kind in ("between", "not_between", "raw_between", "int_in"):
            if col not in schema["int_cols"]:
                raise ValueError(
                    f"{col!r} is not an int column "
                    f"(int_cols={schema['int_cols']}); {kind!r} predicates "
                    "need a zone-mapped int column"
                )
            if kind in ("between", "not_between"):
                lo_k = _plane_literal(schema, col, p[2], "lo")
                hi_k = _plane_literal(schema, col, p[3], "hi")
                specs.append({
                    "kind": "range", "col": col,
                    "lo": lo_k, "hi": hi_k,
                    "neg": kind == "not_between",
                })
                if _top and kind == "between" and \
                        col in schema.get("index_cols", ()):
                    specs.append({
                        "kind": "member", "col": col,
                        "match": _str_range_matcher(
                            _idx_key_bytes(lo_k), _idx_key_bytes(hi_k)
                        ),
                        "eq_single": None, "mask_free": True,
                    })
            elif kind == "raw_between":
                # internal (top-k threshold stacking): bounds are already
                # plane keys — no literal conversion
                specs.append({"kind": "range", "col": col,
                              "lo": int(p[2]), "hi": int(p[3]),
                              "neg": False})
            else:
                if isinstance(p[2], (str, bytes)):
                    # list('123') would coerce to literals [1, 2, 3]
                    raise ValueError(
                        f"int_in predicate takes a list of int literals, "
                        f"got a single string {p[2]!r}"
                    )
                if not list(p[2]):
                    raise ValueError(
                        "int_in predicate needs at least one literal"
                    )
                vals = _plane_in_keys(schema, col, list(p[2]))
                specs.append({"kind": "range", "col": col,
                              "lo": int(vals[0]), "hi": int(vals[-1]),
                              "vals": vals, "neg": False})
                if _top and col in schema.get("index_cols", ()):
                    specs.append({
                        "kind": "member", "col": col,
                        "match": _literals_matcher(tuple(
                            _idx_key_bytes(int(v)) for v in vals
                        )),
                        "eq_single": None, "mask_free": True,
                    })
            continue
        if col not in schema["str_cols"]:
            raise ValueError(
                f"{col!r} is not a string column "
                f"(str_cols={schema['str_cols']}); {kind!r} predicates "
                "run on dictionary string columns"
            )
        if kind in ("eq", "ne"):
            v = p[2].encode("utf-8")
            match = _literals_matcher((v,))
            specs.append({
                "kind": "member", "col": col,
                "match": _invert_matcher(match) if kind == "ne" else match,
                "eq_single": v if kind == "eq" else None,
            })
        elif kind in ("in", "not_in"):
            if isinstance(p[2], (str, bytes)):
                # a bare string would iterate as characters and silently
                # match per-character literals
                raise ValueError(
                    f"{kind} predicate takes a list of literals, got a "
                    f"single string {p[2]!r}; use ('eq', col, value) for "
                    "one literal"
                )
            uniq = tuple(sorted({v.encode("utf-8") for v in p[2]}))
            if not uniq:
                raise ValueError(f"{kind} predicate needs at least one "
                                 "literal")
            match = _literals_matcher(uniq)
            specs.append({
                "kind": "member", "col": col,
                "match": _invert_matcher(match) if kind == "not_in"
                else match,
                "eq_single": (
                    uniq[0] if kind == "in" and len(uniq) == 1 else None
                ),
            })
        elif kind == "str_between":
            specs.append({
                "kind": "member", "col": col,
                "match": _str_range_matcher(
                    p[2].encode("utf-8"), p[3].encode("utf-8")
                ),
                "eq_single": None,
            })
        else:  # prefix / contains / suffix and their negations
            base = kind.removeprefix("not_")
            mk = {"prefix": _str_prefix_matcher,
                  "contains": _str_contains_matcher,
                  "suffix": _str_suffix_matcher}[base]
            match = mk(p[2].encode("utf-8"))
            specs.append({
                "kind": "member", "col": col,
                "match": _invert_matcher(match) if kind != base
                else match,
                "eq_single": None,
            })
    if not specs:
        raise ValueError("preds must name at least one predicate")
    return specs


def scan_table_files_where(
    spark: SparkSession, enc_dir: str, preds,
    columns: list[str] | None = None,
):
    """CONJUNCTIVE (AND) predicate pushdown into the encoded format: rows
    satisfying EVERY predicate in ``preds``, projected to ``columns``
    (default: the order column plus each predicate column, in order).

    ``preds`` is an iterable of tuples — ``("between", int_col, lo, hi)``
    / ``("not_between", ...)`` zone-map ranges and ``("int_in", ...)``
    literal sets; ``("eq", str_col, v)`` / ``("ne", ...)``,
    ``("in", str_col, [v...])`` / ``("not_in", ...)``,
    ``("str_between", str_col, lo, hi)``, ``("prefix", str_col, p)`` /
    ``("not_prefix", ...)`` dictionary memberships; ``("isnull", col)`` /
    ``("notnull", col)`` validity predicates on either column kind; and
    ``("or", [leaf, ...])`` disjunction nodes over any of the above (one
    level — AND-of-OR expresses arbitrary WHERE clauses in conjunctive
    normal form) — the same predicates the single-predicate scans push
    down, here evaluated together in ONE pass.

    The per-file surviving block set is the INTERSECTION of every
    predicate's block prune (int ranges via parquet filters on the
    payload-free metadata read; memberships via the dictionary sidecars;
    validity predicates via block null counts; an OR node's survivors
    are the UNION of its leaves'), so payload IO is bounded by the MOST
    selective predicate — the same multiplicative skipping a warehouse
    gets from stacking page-stat and dictionary filters.  Row masks AND
    together (OR nodes union their leaf masks first); each predicate
    keeps SQL NULL semantics (NULL never matches, except ``isnull``),
    and all projection paths (int widths, string gathers, NULL
    preservation) are shared with the single-predicate scans.  One task
    per live blocks file, zero shuffle."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    specs = _norm_preds(schema, list(preds))
    pred_cols = _spec_cols(specs)
    if columns is None:
        out_names = list(dict.fromkeys([schema["order_col"], *pred_cols]))
    else:
        out_names = _scan_out_names(schema, pred_cols[0], columns)
    worker = _make_scan_worker(
        schema, specs, out_names, symbols_hex=_symbols_hex(enc_dir),
    )
    return _run_scan_tasks(spark, enc_dir, schema, out_names, worker)


def semijoin_scan_table_files(
    spark: SparkSession, enc_dir: str, col: str, dim_df,
    dim_key: str | None = None,
    columns: list[str] | None = None,
    max_keys: int = 10_000,
):
    """Dynamic-partition-pruning-style SEMI-JOIN pushdown: rows of the
    encoded table whose ``col`` appears in ``dim_df[dim_key]`` — the
    runtime filter a warehouse derives from the dimension side of a join,
    here pushed into OUR encoded format.

    The dim side's distinct non-NULL keys are collected at the driver
    (bounded by ``max_keys`` — beyond that the collect is the wrong plan
    and a plain join should run instead, so this raises).  A string
    ``col`` pushes the keys as an IN-list through the dictionary-sidecar
    membership scan (blocks containing NO dim key never touch payload); an
    int ``col`` pushes them as an ``int_in`` zone-map predicate (blocks no
    key falls inside prune; survivors mask exactly — no join anywhere).
    NULL fact rows never match (SQL semi-join semantics); an empty dim
    side returns the empty result without touching the table."""
    from pyspark.sql import functions as F

    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    known = set(schema["int_cols"]) | set(schema["str_cols"])
    if col not in known:
        raise ValueError(
            f"{col!r} is not a column of this dataset "
            f"(int_cols={schema['int_cols']} str_cols={schema['str_cols']})"
        )
    dim_key = dim_key if dim_key is not None else col
    keys_df = (
        dim_df.select(F.col(dim_key).alias("__rlv_dpp_key"))
        .where(F.col("__rlv_dpp_key").isNotNull())
        .distinct()
    )
    keys = [r["__rlv_dpp_key"]
            for r in keys_df.limit(max_keys + 1).collect()]
    if len(keys) > max_keys:
        raise ValueError(
            f"dim side exceeds max_keys={max_keys} distinct values — a "
            "driver-collected runtime filter is the wrong plan at that "
            "cardinality; run a plain join instead"
        )
    out_names = _scan_out_names(schema, col, columns)
    if not keys:
        str_cols = set(schema["str_cols"])
        empty = spark.createDataFrame([], ", ".join(
            f"`{c}` {'string' if c in str_cols else 'bigint'}"
            for c in out_names
        ))
        return empty.select(
            *[_typed_out_expr(schema, c) for c in out_names]
        )
    if col in schema["str_cols"]:
        return scan_table_files_in(spark, enc_dir, col, keys,
                                   columns=out_names)
    return scan_table_files_where(
        spark, enc_dir, [("int_in", col, keys)], columns=out_names
    )


def join_table_files(
    spark: SparkSession, enc_a: str, enc_b: str, on,
    preds_a=None, preds_b=None,
    columns_a: list[str] | None = None,
    columns_b: list[str] | None = None,
    broadcast_bytes: int = 64 << 20,
    runtime_filter_max_keys: int = 10_000,
    return_plan: bool = False,
    how: str = "inner",
):
    """General INNER join between two encoded datasets — the plan that
    runs when :func:`semijoin_scan_table_files`'s driver-collected
    runtime filter is the wrong shape (fact x fact, high-cardinality
    dims).  Both sides leave the format through their own conjunctive
    pruned scans (predicates prune blocks; the projection is pushed down
    to join keys + requested columns), then a plain Spark join runs on
    the restored relations.

    Plan choices are decided from the format's own metadata, before a
    payload byte moves:

    * **Broadcast** — each side's exact decode bill comes from the
      EXPLAIN classification (:func:`explain_scan_table_files`, a
      payload-free metadata pass); when the smaller side's bill is
      ``<= broadcast_bytes`` it broadcasts, otherwise Spark's shuffle
      join runs (AQE may still re-plan at runtime).
    * **Runtime filter** — on a single-column join whose key is a plain
      int or string column, the smaller side's distinct keys (metadata-
      cheap: dictionary sidecars / codec-level distinct through
      :func:`distinct_table_files`) push into the LARGER side's scan as
      an ``int_in`` / ``in`` predicate when there are at most
      ``runtime_filter_max_keys`` of them — the DPP shape, shrinking the
      fact scan before the join instead of after it.  More keys than the
      cap: the filter is skipped (never an error — the join itself is
      the right plan then).

    ``on`` is one column name or a list present on BOTH sides with equal
    restored Spark types; non-key projected columns must not collide
    (Spark cannot disambiguate them after the join).  SQL join semantics
    throughout — NULL keys never match (the runtime filter collects
    non-NULL keys only, so it cannot change results).  ``how`` is
    ``"inner"`` (default) or ``"left"`` — LEFT preserves side A, so plan
    asymmetries apply: only side B may broadcast (Spark cannot broadcast
    the preserved side of an outer join) and the runtime filter may only
    flow A -> B (filtering B cannot drop preserved A rows; the reverse
    would).  With ``return_plan=True`` returns ``(df, plan)`` where
    ``plan`` records both bills and the decisions, for tests and
    operators.
    """
    from pyspark.sql import functions as F

    on_cols = [on] if isinstance(on, str) else list(on)
    if not on_cols:
        raise ValueError("on must name at least one join column")
    sides = []
    for enc_dir, preds, columns in (
        (enc_a, preds_a, columns_a), (enc_b, preds_b, columns_b),
    ):
        schema = _load_table_schema(enc_dir)
        if schema is None:
            raise FileNotFoundError(
                f"no table schema recorded at {enc_dir}"
            )
        known = set(schema["int_cols"]) | set(schema["str_cols"])
        missing = [c for c in on_cols if c not in known]
        if missing:
            raise ValueError(
                f"join column(s) {missing} not in {enc_dir} "
                f"(int_cols={schema['int_cols']} "
                f"str_cols={schema['str_cols']})"
            )
        out_names = list(dict.fromkeys(
            [*on_cols, *(columns if columns is not None else [])]
        ))
        # a predicate-free side still routes through the shared pruned
        # scan: the order column is non-NULL by construction, so its
        # notnull is a metadata-only predicate that full-matches every
        # block (no extra decode, no extra payload column — notnull
        # needs no payload read)
        eff_preds = list(preds) if preds else [
            ("notnull", schema["order_col"])
        ]
        sides.append({
            "enc": enc_dir, "schema": schema, "preds": eff_preds,
            "columns": out_names,
        })
    for c in on_cols:
        ta = _typed_field_type(sides[0]["schema"], c)
        tb = _typed_field_type(sides[1]["schema"], c)
        if ta != tb:
            raise ValueError(
                f"join key {c!r} restores to {ta} on one side and {tb} "
                "on the other — encode the sides to matching types"
            )
    clash = (set(sides[0]["columns"]) & set(sides[1]["columns"])) \
        - set(on_cols)
    if clash:
        raise ValueError(
            f"non-key column(s) {sorted(clash)} projected from both "
            "sides — rename or drop one side's"
        )

    if how not in ("inner", "left"):
        raise ValueError(
            f"how must be 'inner' or 'left', got {how!r}"
        )
    for s in sides:
        [bill] = explain_scan_table_files(
            spark, s["enc"], s["preds"], columns=s["columns"]
        ).collect()
        s["payload_bytes"] = int(bill["payload_bytes"])
        s["rows_surviving"] = int(bill["rows_surviving"])
    small, big = sorted(sides, key=lambda s: s["payload_bytes"])
    if how == "left":
        # only side B may broadcast (Spark cannot broadcast the
        # preserved side of an outer join), and only A's keys may filter
        # B (filtering B never drops preserved A rows; the reverse would)
        small, big = sides[1], sides[0]
    plan = {
        "payload_bytes_a": sides[0]["payload_bytes"],
        "payload_bytes_b": sides[1]["payload_bytes"],
        "broadcast": small["payload_bytes"] <= broadcast_bytes,
        "runtime_filter_keys": None,
    }

    # DPP-style runtime filter from the metadata-smaller side (inner) /
    # the preserved side (left), single plain-int/string key only (typed
    # planes would need side-aware literal mapping the IN spec does not
    # carry); on a LEFT join the key source is A regardless of size, so
    # only attempt it when A's bill is also the smaller one — the
    # distinct pass stays as cheap as the inner-join case
    filter_src, filter_dst = (small, big) if how == "inner" else (
        (sides[0], sides[1])
        if sides[0]["payload_bytes"] <= sides[1]["payload_bytes"]
        else (None, None)
    )
    if len(on_cols) == 1 and runtime_filter_max_keys > 0 \
            and filter_src is not None \
            and filter_src["rows_surviving"] \
            <= 50 * runtime_filter_max_keys:
        # the rows_surviving guard (metadata-free: it is already in the
        # EXPLAIN bill) skips the distinct pass when the source side is
        # so large its key set would almost surely exceed the cap — a
        # fact x fact join must not pay a distinct shuffle to learn the
        # filter does not apply
        key = on_cols[0]
        kschema = filter_src["schema"]
        alias = (kschema.get("int_col_types") or {}).get(key, "int64")
        is_str = key in set(kschema["str_cols"])
        if is_str or _plane_kind(alias) == "int":
            keys = [
                r[key]
                for r in distinct_table_files(
                    spark, filter_src["enc"], key,
                    preds=filter_src["preds"],
                ).limit(runtime_filter_max_keys + 2).collect()
                if r[key] is not None
            ]
            if 0 < len(keys) <= runtime_filter_max_keys:
                filter_dst["preds"] = list(filter_dst["preds"]) + [
                    ("in" if is_str else "int_in", key, keys)
                ]
                plan["runtime_filter_keys"] = len(keys)

    dfs = {}
    for s in sides:
        dfs[id(s)] = scan_table_files_where(
            spark, s["enc"], s["preds"], columns=s["columns"]
        )
    small_df, big_df = dfs[id(small)], dfs[id(big)]
    if plan["broadcast"]:
        small_df = F.broadcast(small_df)
    # LEFT: A must be the left operand (big/small were remapped above so
    # big IS side A); inner is orientation-free
    out = big_df.join(small_df, on=on_cols, how=how).select(
        *on_cols,
        *[c for c in sides[0]["columns"] if c not in on_cols],
        *[c for c in sides[1]["columns"] if c not in on_cols],
    )
    return (out, plan) if return_plan else out


def ctas_table_files(
    spark: SparkSession, src_enc: str, dst_dir: str, preds,
    columns: list[str] | None = None,
    cluster_by: str | None = None,
    rows_per_block: int = 4096,
    stage_dir: str | None = None,
) -> dict:
    """CREATE TABLE AS SELECT over the encoded format: materialize the
    rows matching the predicate CONJUNCTION (``preds`` — the same five
    kinds :func:`scan_table_files_where` takes), projected to ``columns``,
    as a NEW encoded dataset at ``dst_dir`` — the derived-dataset step of
    a curation pipeline (filter a corpus, keep the good slice encoded).

    The read side is the zero-shuffle conjunctive pruned scan (source
    blocks the predicates exclude are never decoded); the scan output
    stages as parquet at its recorded source widths and re-encodes with
    the standard per-file planning.  By default the source's order column
    must ride the projection (it keeps the new dataset self-describing
    and its strict order survives filtering); pass ``cluster_by`` to
    instead re-cluster the result on one of the projected columns
    (:func:`cluster_encode_table_files` mints the new order column).
    The source's corpus FSST symbol table, if any, carries over so string
    encoding stays consistent.  For a full unfiltered copy use
    :func:`decode_table_files` + re-encode; CTAS requires ≥1 predicate.

    The staged scan output lands at ``dst_dir/source`` (or ``stage_dir``)
    and is KEPT — it is the child dataset's recorded input, which lineage
    verify replays split-for-split (the clustered variant keeps its SORTED
    stage there instead, via :func:`cluster_encode_table_files`)."""
    import glob as _glob
    import shutil
    import tempfile

    schema = _load_table_schema(src_enc)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {src_enc}")
    if _load_table_schema(dst_dir) is not None:
        raise ValueError(
            f"{dst_dir} already holds an encoded table — CTAS needs a "
            "fresh dst_dir (each run stages its own scan output; resuming "
            "against another run's stage would mix lineages)"
        )
    specs = _norm_preds(schema, list(preds))
    pred_cols = _spec_cols(specs)
    if columns is None:
        out_names = list(dict.fromkeys([schema["order_col"], *pred_cols]))
    else:
        out_names = _scan_out_names(schema, pred_cols[0], columns)
    order_col = schema["order_col"]
    if cluster_by is None:
        if order_col not in out_names:
            raise ValueError(
                f"projection must keep the source order column "
                f"{order_col!r} (or pass cluster_by to mint a new one)"
            )
    elif cluster_by not in out_names:
        raise ValueError(
            f"cluster_by {cluster_by!r} must be one of the projected "
            f"columns {out_names}"
        )
    df = scan_table_files_where(spark, src_enc, preds, columns=out_names)
    int_out = [c for c in out_names if c in schema["int_cols"]]
    str_out = [c for c in out_names if c in schema["str_cols"]]
    symbols = engine_files._load_symbols(src_enc)
    # decimal declarations survive CTAS: the staged scan output holds the
    # restored doubles, so re-declaring the source scales keeps the
    # destination's exact-sum plane (and re-checks round-trip per split)
    src_types = schema.get("int_col_types") or {}
    dec_out = {
        c: _dec_alias_parts(src_types[c])[0]
        for c in int_out
        if _dec_alias_parts(src_types.get(c, "int64"))
    } or None
    idx_out = [
        c for c in out_names if c in schema.get("index_cols", ())
    ] or None
    if cluster_by is not None:
        # the clustered variant re-sorts anyway, so the scan output is
        # only a transient input: cluster-encode keeps ITS sorted stage
        # as the recorded source under dst_dir/source
        tmp_stage = tempfile.mkdtemp(prefix="rlv_ctas_stage_")
        try:
            df.write.mode("overwrite").parquet(tmp_stage)
            files = sorted(
                _glob.glob(os.path.join(tmp_stage, "part-*.parquet"))
            )
            if not files:
                raise ValueError(
                    "CTAS staged zero files — empty scan output"
                )
            return cluster_encode_table_files(
                spark, files, dst_dir, cluster_by=cluster_by,
                int_cols=int_out, str_cols=str_out,
                rows_per_block=rows_per_block,
                fsst_symbols=symbols,
                stage_dir=stage_dir,
                decimal_cols=dec_out,
                index_cols=idx_out,
            )
        finally:
            shutil.rmtree(tmp_stage, ignore_errors=True)
    stage = (
        os.path.join(dst_dir, "source") if stage_dir is None else stage_dir
    )
    df.write.mode("overwrite").parquet(stage)
    files = sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))
    if not files:
        raise ValueError("CTAS staged zero files — empty scan output")
    return encode_table_files(
        spark, files, dst_dir,
        order_col=order_col, int_cols=int_out, str_cols=str_out,
        rows_per_block=rows_per_block, num_tasks=len(files),
        fsst_symbols=symbols,
        decimal_cols=dec_out,
        index_cols=idx_out,
    )


def strdict_stats(enc_dir: str, col: str, value: str) -> dict:
    """Driver-side membership-pruning estimate for a string literal from the
    dictionary sidecars alone (no payload touched):
    ``{blocks_total, blocks_matching}`` — the string analog of
    :func:`zonemap_stats`."""
    from rlv import blocks as B

    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    if col not in schema["str_cols"]:
        raise ValueError(
            f"{col!r} is not a string column of this dataset "
            f"(str_cols={schema['str_cols']})"
        )
    import pyarrow as pa
    import pyarrow.compute as pc

    syms = engine_files._load_symbols(enc_dir)
    needle = value.encode("utf-8")
    total = match = 0
    for bpath in _live_block_files(enc_dir):
        sid = _file_sid(bpath)
        for blob in _read_dict_sidecar(bpath, sid, col=col).values():
            total += 1
            uniq = B.decode_strings_arrow(blob, syms)
            if pc.index(uniq, pa.scalar(needle, uniq.type)).as_py() >= 0:
                match += 1
    return {"blocks_total": total, "blocks_matching": match}


def _symbols_hex(enc_dir: str) -> tuple[str, ...] | None:
    syms = engine_files._load_symbols(enc_dir)
    return tuple(s.hex() for s in syms) if syms is not None else None


def _scan_out_names(schema: dict, col: str,
                    columns: list[str] | None) -> list[str]:
    """Validate and default the scan projection (shared by the range and
    equality scans)."""
    order_col = schema["order_col"]
    if columns is None:
        return [order_col] if col == order_col else [order_col, col]
    out_names = list(columns)
    if not out_names:
        raise ValueError("columns must name at least one column")
    if len(set(out_names)) != len(out_names):
        raise ValueError(f"duplicate column in projection: {out_names}")
    known = set(schema["int_cols"]) | set(schema["str_cols"])
    unknown = [c for c in out_names if c not in known]
    if unknown:
        raise ValueError(
            f"unknown column(s) {unknown}; dataset has "
            f"int_cols={schema['int_cols']} "
            f"str_cols={schema['str_cols']}"
        )
    return out_names


def _run_scan_tasks(spark: SparkSession, enc_dir: str, schema: dict,
                    out_names: list[str], worker):
    """One task per live (blocks file, segment), zero shuffle; ints come
    back cast to their recorded source widths (shared tail of both
    scans)."""
    tasks = _query_tasks(enc_dir)
    str_cols = set(schema["str_cols"])
    scan_schema = ", ".join(
        f"`{c}` {'string' if c in str_cols else 'bigint'}"
        for c in out_names
    )
    # all splits dead (e.g. freshly-initialized dataset): the dispatcher
    # returns the empty result, same shape
    out = _dispatch(spark, tasks, worker, scan_schema)
    return out.select(
        *[_typed_out_expr(schema, c) for c in out_names]
    )


AGG_PARTIAL_SCHEMA = (
    "n_rows bigint, n_vals bigint, sum_val decimal(38,0), "
    "min_val bigint, max_val bigint"
)


def _int_pred_class(p: dict, nv: int, nn: int, nr: int, mn: int, mx: int):
    """Classify one block against a metadata predicate spec: ``None`` =
    pruned, ``'full'`` = every one of the block's ``nv`` rows matches (no
    decode needed), ``'partial'`` = decode and mask.  A plain range prunes
    on zone-map disjointness and full-matches when the zone map nests in
    the range; a NEGATED range (``p["neg"]``) is the mirror — prunes when
    the zone map nests INSIDE [lo, hi], full-matches a no-NULL block whose
    zone map misses it entirely; an IN-list (``p["vals"]`` — sorted int64
    array) prunes when no literal falls inside the zone map and
    full-matches only a constant block whose value is a literal; a
    validity predicate (``kind == "valid"``) classifies from
    ``(n_values, n_nulls)`` alone and works on either column kind."""
    if p.get("kind") == "valid":
        if p["want_null"]:
            return None if nn == 0 else ("full" if nn == nv else "partial")
        return None if nn == nv else ("full" if nn == 0 else "partial")
    if p.get("neg"):
        # rows match when v < lo OR v > hi (== SQL NOT BETWEEN, also for
        # the lo > hi empty range, where every valid row matches)
        if nr == 0 or (mn >= p["lo"] and mx <= p["hi"]):
            return None  # pruned (all-NULL blocks match nothing)
        return (
            "full" if nn == 0 and (mx < p["lo"] or mn > p["hi"])
            else "partial"
        )
    if nr == 0 or mx < p["lo"] or mn > p["hi"]:
        return None  # pruned (all-NULL blocks match nothing)
    vals = p.get("vals")
    if vals is None:
        return (
            "full" if nn == 0 and mn >= p["lo"] and mx <= p["hi"]
            else "partial"
        )
    j = int(np.searchsorted(vals, mn))
    if j >= vals.size or int(vals[j]) > mx:
        return None  # no literal inside the zone map
    return "full" if nn == 0 and mn == mx and int(vals[j]) == mn \
        else "partial"


def _int_pred_rowmask(p: dict, pv: np.ndarray,
                      pvalid: np.ndarray) -> np.ndarray:
    """Row mask of one decoded block against a metadata predicate spec."""
    if p.get("kind") == "valid":
        return ~pvalid if p["want_null"] else pvalid.copy()
    if p.get("neg"):
        return pvalid & ((pv < p["lo"]) | (pv > p["hi"]))
    vals = p.get("vals")
    if vals is None:
        return pvalid & (pv >= p["lo"]) & (pv <= p["hi"])
    return pvalid & np.isin(pv, vals)


def _spec_parts(preds: list[dict]):
    """Partition normalized specs into the three worker families:
    metadata predicates (int ranges + validity), dictionary memberships,
    and OR nodes (each a list of leaf specs)."""
    int_preds = [p for p in preds if p["kind"] in ("range", "valid")]
    mem_preds = [p for p in preds if p["kind"] == "member"]
    or_nodes = [p["specs"] for p in preds if p["kind"] == "or"]
    return int_preds, mem_preds, or_nodes


def _leaf_atoms(leaf: dict) -> list[dict]:
    """Atomic specs of one OR-node leaf: an ``andgroup`` leaf's conjuncts,
    else the leaf itself."""
    return leaf["specs"] if leaf["kind"] == "andgroup" else [leaf]


def _spec_cols(specs: list[dict]) -> list[str]:
    """Predicate columns in first-mention order, OR leaves (and their
    andgroup conjuncts) flattened."""
    cols: list[str] = []
    for p in specs:
        for leaf in (p["specs"] if p["kind"] == "or" else (p,)):
            for atom in _leaf_atoms(leaf):
                cols.append(atom["col"])
    return list(dict.fromkeys(cols))


def _int_leaf_class_map(p: dict, col_info: dict) -> dict:
    """Class map of one metadata predicate over a file's blocks
    (absent = pruned)."""
    cl: dict = {}
    for key, (nv, nn, nr, mn, mx) in col_info.items():
        kind = _int_pred_class(p, nv, nn, nr, mn, mx)
        if kind is not None:
            cl[key] = kind
    return cl


def _mem_leaf_classify(path: str, file_sid: str, info: dict, p: dict,
                       symbols, seg: str | None = None):
    """Class map + matching code sets + whole-dictionary keys of one
    membership predicate (reads the column's dictionary sidecar)."""
    from rlv import blocks as B

    side = _read_dict_sidecar(path, file_sid, col=p["col"], seg=seg)
    cl: dict = {}
    codes: dict = {}
    whole: set = set()
    for (seq, _, bi), blob in side.items():
        key = (seq, int(bi))
        if key not in info[p["col"]]:
            continue
        uniq = B.decode_strings_arrow(blob, symbols)
        hits = p["match"](uniq)
        if not hits.size:
            continue  # pruned: no dictionary entry matches
        codes[key] = hits
        nn = info[p["col"]][key][1]
        if hits.size == len(uniq):
            whole.add(key)
            cl[key] = "full" if nn == 0 else "partial"
        else:
            cl[key] = "partial"
    return cl, codes, whole


def _pred_classify(path: str, file_sid: str, info: dict,
                   int_preds: list[dict], mem_preds: list[dict], symbols,
                   or_nodes: list[list[dict]] = (),
                   seg: str | None = None):
    """Phase-1 per-predicate block classification from metadata alone
    (+ dictionary sidecars for member preds): returns
    ``(pred_cls, mem_codes, mem_full, or_data)`` — ``pred_cls`` lists the
    int preds' class maps, then the member preds', then one COMBINED map
    per OR node, each mapping (segment, block) -> 'full'|'partial'
    (absent = pruned); ``mem_codes[i]`` holds member pred i's per-block
    matching code sets; ``mem_full[i]`` the keys whose WHOLE dictionary
    matches (only NULL rows can fail there).  An OR node classifies as the
    leaf UNION: pruned only when every leaf prunes, full when ANY leaf
    full-matches; ``or_data[j] = (leaf_cls, leaf_mem)`` keeps the per-leaf
    maps (and, for member leaves, their ``(codes, whole)``) for
    masking."""
    pred_cls: list[dict] = []
    for p in int_preds:
        pred_cls.append(_int_leaf_class_map(p, info[p["col"]]))
    mem_codes: list[dict] = []
    mem_full: list[set] = []
    for p in mem_preds:
        cl, codes, whole = _mem_leaf_classify(
            path, file_sid, info, p, symbols, seg=seg
        )
        pred_cls.append(cl)
        mem_codes.append(codes)
        mem_full.append(whole)
    def _one_leaf(leaf):
        if leaf["kind"] in ("range", "valid"):
            return _int_leaf_class_map(leaf, info[leaf["col"]]), None
        cl, codes, whole = _mem_leaf_classify(
            path, file_sid, info, leaf, symbols, seg=seg
        )
        return cl, (codes, whole)

    or_data: list[tuple] = []
    for node in or_nodes:
        leaf_cls: list[dict] = []
        leaf_mem: list = []
        for leaf in node:
            if leaf["kind"] == "andgroup":
                # the group's class at a key = AND over its conjuncts:
                # pruned when ANY conjunct prunes, full when ALL do
                atom_cls: list[dict] = []
                atom_mem: list = []
                for atom in leaf["specs"]:
                    acl, amem = _one_leaf(atom)
                    atom_cls.append(acl)
                    atom_mem.append(amem)
                gcl: dict = {}
                for key in atom_cls[0]:
                    kinds = [cl.get(key) for cl in atom_cls]
                    if any(k is None for k in kinds):
                        continue
                    gcl[key] = (
                        "full" if all(k == "full" for k in kinds)
                        else "partial"
                    )
                leaf_cls.append(gcl)
                leaf_mem.append(("and", atom_cls, atom_mem))
            else:
                cl, mem = _one_leaf(leaf)
                leaf_cls.append(cl)
                leaf_mem.append(mem)
        ncl: dict = {}
        for cl in leaf_cls:
            for key, kind in cl.items():
                if kind == "full":
                    ncl[key] = "full"
                else:
                    ncl.setdefault(key, "partial")
        pred_cls.append(ncl)
        or_data.append((leaf_cls, leaf_mem))
    return pred_cls, mem_codes, mem_full, or_data


def _pred_need_cols(key, pred_cls: list[dict],
                    int_preds: list[dict], mem_preds: list[dict],
                    or_nodes: list[list[dict]] = (),
                    or_data: list[tuple] = ()) -> set[str]:
    """Columns whose payload one PARTIAL block must decode to mask: every
    non-full top-level predicate's column, plus — for each non-full OR
    node — the columns of its partial leaves (pruned leaves contribute
    nothing, and a full leaf would have made the node full)."""
    cols: set[str] = set()
    for cl, p in zip(pred_cls, [*int_preds, *mem_preds]):
        if p.get("mask_free"):
            continue  # classification-only (indexed-int membership)
        if cl.get(key) != "full":
            cols.add(p["col"])
    base = len(int_preds) + len(mem_preds)
    for ni, node in enumerate(or_nodes):
        if pred_cls[base + ni].get(key) == "full":
            continue
        leaf_cls, leaf_mem = or_data[ni]
        for li, leaf in enumerate(node):
            if leaf_cls[li].get(key) != "partial":
                continue
            if leaf["kind"] == "andgroup":
                # a partial group masks as the AND of its conjuncts:
                # only the conjuncts not full at this block decode
                _, atom_cls, _ = leaf_mem[li]
                for ai, atom in enumerate(leaf["specs"]):
                    if atom_cls[ai].get(key) != "full":
                        cols.add(atom["col"])
            else:
                cols.add(leaf["col"])
    return cols


def _pred_mask(key, nv: int, pred_cls: list[dict],
               int_preds: list[dict], mem_preds: list[dict],
               mem_codes: list[dict], mem_full: list[set], dec,
               or_nodes: list[list[dict]] = (),
               or_data: list[tuple] = ()):
    """AND row mask for one PARTIAL block: decode (via ``dec(col)``) only
    the predicates not full-matching there; a member pred whose whole
    dictionary matches drops NULL rows only (no set test).  An OR node
    contributes the UNION of its leaf masks (a leaf pruned at this block
    contributes nothing; a full leaf cannot occur in a partial node)."""
    mask = np.ones(nv, bool)
    for cl, p in zip(pred_cls[:len(int_preds)], int_preds):
        if cl.get(key) == "full":
            continue
        pv, _, pvalid = dec(p["col"])
        mask &= _int_pred_rowmask(p, pv, pvalid)
    for mi, (cl, p) in enumerate(
        zip(pred_cls[len(int_preds):], mem_preds)
    ):
        if cl.get(key) == "full" or p.get("mask_free"):
            continue
        pv, _, pvalid = dec(p["col"])
        if key in mem_full[mi]:
            mask &= pvalid
        else:
            mask &= pvalid & np.isin(pv, mem_codes[mi][key])
    base = len(int_preds) + len(mem_preds)
    for ni, node in enumerate(or_nodes):
        if pred_cls[base + ni].get(key) == "full":
            continue
        leaf_cls, leaf_mem = or_data[ni]

        def _atom_mask(atom, mem):
            pv, _, pvalid = dec(atom["col"])
            if atom["kind"] in ("range", "valid"):
                return _int_pred_rowmask(atom, pv, pvalid)
            codes, whole = mem
            if key in whole:
                return pvalid.copy()
            return pvalid & np.isin(pv, codes[key])

        nm = np.zeros(nv, bool)
        for li, leaf in enumerate(node):
            if leaf_cls[li].get(key) is None:
                continue
            if leaf["kind"] == "andgroup":
                # group mask = AND over conjuncts; a conjunct full at
                # this block matches every row (no decode)
                _, atom_cls, atom_mem = leaf_mem[li]
                gm = np.ones(nv, bool)
                for ai, atom in enumerate(leaf["specs"]):
                    if atom_cls[ai].get(key) == "full":
                        continue
                    gm &= _atom_mask(atom, atom_mem[ai])
                nm |= gm
            else:
                nm |= _atom_mask(leaf, leaf_mem[li])
        mask &= nm
    return mask


def _task_seg(row) -> str | None:
    """Segment a task row is scoped to (None = the whole file): workers
    read it from the optional ``segment`` task column so a compacted file
    fans out to one task per absorbed split."""
    seg = row.get("segment")
    if seg is None or (isinstance(seg, float) and np.isnan(seg)):
        return None
    return str(seg)


def _classify_file(path: str, file_sid: str, seg: str | None,
                   all_cols: list[str], int_preds: list[dict],
                   mem_preds: list[dict], or_nodes: list[list[dict]],
                   symbols, with_enc_bytes: bool = False):
    """Shared phase 1 of every per-file pushdown worker (agg / group /
    distinct / top-k / explain): ONE payload-free metadata read over the
    involved columns, the per-(segment, block) info map, the inventory
    cross-checks (every column covers the same keys with the same row
    counts — a lost column fails loudly instead of silently
    undercounting), predicate classification, and the combined class per
    key: pruned if ANY predicate prunes, full if ALL full-match, else
    partial; no predicates = every key full.

    ``seg`` scopes a segment task of a compacted file to its own split
    (the ``split_seq`` filter prunes to that segment's row groups).
    Returns ``(info, keys, cls, pred_cls, mem_codes, mem_full, or_data,
    ebytes, sums)`` — ``ebytes`` is the per-column ``{key: enc_bytes}``
    map when ``with_enc_bytes`` else None; ``sums`` is the per-column
    ``{key: exact valid-value sum}`` map (values None when the file
    predates the ``sum_val`` stat — callers fall back to payload)."""
    meta_cols = ["split_seq", "col_name", "block_idx", "n_values",
                 "n_nulls", "n_runs", "min_val", "max_val", "sum_val"]
    if with_enc_bytes:
        meta_cols.append("enc_bytes")
    meta = _read_filtered(path, meta_cols, col=all_cols, seg=seg)
    has_sums = "sum_val" in meta.column_names
    info: dict[str, dict[tuple[str, int], tuple]] = {
        c: {} for c in all_cols
    }
    ebytes: dict[str, dict[tuple[str, int], int]] | None = (
        {c: {} for c in all_cols} if with_enc_bytes else None
    )
    sums: dict[str, dict[tuple[str, int], int | None]] = {
        c: {} for c in all_cols
    }
    for sid, segment in _split_segments(meta, file_sid):
        cols = [
            segment.column("col_name").to_pylist(),
            segment.column("block_idx").to_numpy(),
            segment.column("n_values").to_numpy(),
            segment.column("n_nulls").to_numpy(),
            segment.column("n_runs").to_numpy(),
            segment.column("min_val").to_numpy(),
            segment.column("max_val").to_numpy(),
        ]
        cols.append(
            segment.column("sum_val").to_pylist()
            if has_sums
            else [None] * len(segment)
        )
        if with_enc_bytes:
            cols.append(segment.column("enc_bytes").to_numpy())
        for name, bi, nv, nn, nr, mn, mx, sm, *rest in zip(*cols):
            key = (sid, int(bi))
            info[name][key] = (
                int(nv), int(nn), int(nr), int(mn), int(mx)
            )
            sums[name][key] = int(sm) if sm is not None else None
            if with_enc_bytes:
                ebytes[name][key] = int(rest[0])
    keys = set(info[all_cols[0]])
    for c in all_cols[1:]:
        if set(info[c]) != keys:
            raise ValueError(
                f"columns {all_cols[0]!r} and {c!r} cover different "
                "blocks — corrupt dataset"
            )
    for key in keys:
        rows0 = info[all_cols[0]][key][0]
        for c in all_cols[1:]:
            if info[c][key][0] != rows0:
                raise ValueError(
                    f"column {c!r} and {all_cols[0]!r} disagree on rows "
                    f"in block {key[1]} — corrupt dataset"
                )
    if int_preds or mem_preds or or_nodes:
        pred_cls, mem_codes, mem_full, or_data = _pred_classify(
            path, file_sid, info, int_preds, mem_preds, symbols,
            or_nodes, seg=seg,
        )
        cls: dict[tuple[str, int], str] = {}
        for key in keys:
            kinds = [cl.get(key) for cl in pred_cls]
            if any(k is None for k in kinds):
                continue
            cls[key] = (
                "full" if all(k == "full" for k in kinds) else "partial"
            )
    else:
        pred_cls, mem_codes, mem_full, or_data = [], [], [], []
        cls = {k: "full" for k in keys}
    return (info, keys, cls, pred_cls, mem_codes, mem_full, or_data,
            ebytes, sums)


def _fetch_payloads(path: str, file_sid: str, seg: str | None,
                    need: dict[str, set[int]]
                    ) -> dict[tuple[str, str, int], bytes]:
    """Shared phase 2 of the pushdown workers: one filtered payload read
    per needed column, returning ``{(split_seq, col, block_idx): blob}``.
    The ``block_idx`` in-filter over-reads only ordinals needed in another
    segment of a compacted file (callers look up exact keys); a
    segment-scoped task pushes the ``split_seq`` filter so the read prunes
    to its own row groups instead."""
    blobs: dict[tuple[str, str, int], bytes] = {}
    for c in sorted(need):
        idxs = need[c]
        if not idxs:
            continue
        t = _read_filtered(path, ["split_seq", "block_idx", "block"],
                           col=c, seg=seg, block_idx=idxs)
        for sid, segment in _split_segments(t, file_sid):
            for bi, blob in zip(
                segment.column("block_idx").to_numpy(),
                segment.column("block").to_pylist(),
            ):
                blobs[(sid, c, int(bi))] = blob
    return blobs


def _make_agg_worker(value_cols: list[str], preds: list[dict],
                     symbols_hex: tuple[str, ...] | None = None):
    """Aggregate worker over one blocks file for a CONJUNCTION of
    predicates (the specs :func:`_norm_preds` emits — int zone-map ranges
    and string dictionary memberships).  Every predicate classifies each
    block pruned / full-match / partial from metadata (+ sidecars) alone;
    the combined class is pruned if ANY pred prunes, full if ALL preds
    full-match, else partial.  Full blocks aggregate the value columns
    without decoding any predicate (RLE blocks sum run lists without
    expanding); partial blocks decode ONLY the predicates not full-matching
    there, AND the masks, and pick the value rows.  One pass classifies
    and masks for ALL value columns: k aggregate sets cost one predicate
    evaluation, not k.  Emits one labeled row per value column."""
    int_preds, mem_preds, or_nodes = _spec_parts(preds)
    pred_cols = _spec_cols(preds)
    all_cols = list(dict.fromkeys([*pred_cols, *value_cols]))

    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg):
        # phase 1 — METADATA for every involved column in one
        # payload-free read; member preds additionally decode their
        # (small) dictionary sidecars.  `full` blocks match every
        # row without decoding the predicate; `partial` blocks
        # decode; the rest are pruned and never read again.
        info, keys, cls, pred_cls, mem_codes, mem_full, \
            or_data, _, sums = _classify_file(
                path, file_sid, seg, all_cols, int_preds,
                mem_preds, or_nodes, symbols,
            )
        if not cls:
            return None
        # columns needing payload: at partial keys, each pred col
        # where that pred is not full there plus every value
        # column; at full keys the block stats (n_nulls, sum_val,
        # zone map) ARE the aggregate — no value payload is read
        # (pre-sum_val files fall back to the payload there)
        need: dict[str, set[int]] = {
            vc: set() for vc in value_cols
        }
        for key, kind in cls.items():
            if kind != "partial":
                for vc in value_cols:
                    if sums[vc].get(key) is None:
                        need[vc].add(key[1])
                continue
            for vc in value_cols:
                need[vc].add(key[1])
            for c in _pred_need_cols(key, pred_cls, int_preds,
                                     mem_preds, or_nodes, or_data):
                need.setdefault(c, set()).add(key[1])
        return info, cls, pred_cls, mem_codes, mem_full, or_data, sums, need

    def finish(path, file_sid, seg, plan) -> pd.DataFrame:
        from rlv import blocks as B

        if plan is None:
            return _agg_frame(
                value_cols, 0,
                {vc: [0, 0, None, None] for vc in value_cols},
            )
        info, cls, pred_cls, mem_codes, mem_full, or_data, sums, need = plan
        # phase 2 — payloads for needed (column, ordinal) pairs
        # only (per-key lookups below are exact)
        blobs = _fetch_payloads(path, file_sid, seg, need)
        n_rows = 0
        stats: dict[str, list] = {
            vc: [0, 0, None, None] for vc in value_cols
        }
        for key in sorted(cls):
            seq, bi = key
            nv = info[value_cols[0]][key][0]
            for vc in value_cols:
                if bi in need[vc] and (seq, vc, bi) not in blobs:
                    raise ValueError(
                        f"column {vc!r} is missing block "
                        f"{bi} of segment {seq} — corrupt dataset"
                    )
            if cls[key] == "full":
                n_rows += nv
                for vc in value_cols:
                    ms = sums[vc].get(key)
                    if ms is not None:
                        # metadata-only: the block stats carry the
                        # exact valid count, sum, and zone map
                        vnv, vnn, vnr, vmn, vmx = info[vc][key]
                        st = stats[vc]
                        st[0] += vnv - vnn
                        st[1] += ms
                        if vnr > 0:
                            st[2] = vmn if st[2] is None \
                                else min(st[2], vmn)
                            st[3] = vmx if st[3] is None \
                                else max(st[3], vmx)
                        continue
                    bn, bnv, bs, bmn, bmx = B.agg_block(
                        blobs[(seq, vc, bi)]
                    )
                    if bn != nv:
                        raise ValueError(
                            f"block {bi} declares {nv} rows but "
                            f"decodes {bn} — corrupt dataset"
                        )
                    st = stats[vc]
                    st[0] += bnv
                    st[1] += bs
                    if bmn is not None:
                        st[2] = bmn if st[2] is None \
                            else min(st[2], bmn)
                        st[3] = bmx if st[3] is None \
                            else max(st[3], bmx)
            else:
                decoded: dict[str, tuple] = {}

                def _dec(c, seq=seq, bi=bi, nv=nv, decoded=decoded):
                    if c not in decoded:
                        decoded[c] = B.decode_blocks_batch_nullable(
                            [blobs[(seq, c, bi)]], np.int64,
                            expected=[nv],
                        )
                    return decoded[c]

                mask = _pred_mask(
                    key, nv, pred_cls, int_preds, mem_preds,
                    mem_codes, mem_full, _dec, or_nodes, or_data,
                )
                n_rows += int(mask.sum())
                for vc in value_cols:
                    vv, _, vvalid = _dec(vc)
                    picked = vv[mask & vvalid]
                    if picked.size == 0:
                        continue
                    st = stats[vc]
                    st[0] += picked.size
                    st[1] += B.exact_sum_i64(picked)
                    bmn, bmx = int(picked.min()), int(picked.max())
                    st[2] = bmn if st[2] is None \
                        else min(st[2], bmn)
                    st[3] = bmx if st[3] is None \
                        else max(st[3], bmx)
        return _agg_frame(value_cols, n_rows, stats)

    return _TaskOp(finish, phase1, _plan_bill)


def _agg_frame(value_cols: list[str], n_rows: int,
               stats: dict[str, list]) -> pd.DataFrame:
    from decimal import Decimal

    return pd.DataFrame(
        {
            "val_col": pd.Series(list(value_cols), dtype=object),
            "n_rows": pd.Series([n_rows] * len(value_cols),
                                dtype="int64"),
            "n_vals": pd.Series([stats[vc][0] for vc in value_cols],
                                dtype="int64"),
            "sum_val": pd.Series(
                [Decimal(stats[vc][1]) for vc in value_cols],
                dtype=object,
            ),
            "min_val": pd.Series([stats[vc][2] for vc in value_cols],
                                 dtype="Int64"),
            "max_val": pd.Series([stats[vc][3] for vc in value_cols],
                                 dtype="Int64"),
        }
    )


def agg_table_files(
    spark: SparkSession, enc_dir: str, value_col: str,
    pred_col: str, lo: int, hi: int,
):
    """Aggregation pushed into the encoded format: one row
    ``(n_rows, n_vals, sum_val, min_val, max_val)`` equal to SQL's

    ``SELECT count(*), count(v), sum(v), min(v), max(v) FROM t
    WHERE p BETWEEN lo AND hi``

    computed FROM THE BLOCKS, never materializing the table.  Zone maps
    classify every predicate block as pruned / full-match / partial from
    metadata alone; full-match value blocks aggregate via
    :func:`rlv.blocks.agg_block` (an RLE block sums its run list without
    expanding — the compute-over-compressed identity), and only partial
    (range-boundary) blocks decode the predicate column.  On a sorted or
    clustered predicate the decode cost is O(boundary blocks), not
    O(selectivity) — the same shape a warehouse gets from page-stats
    pushdown, served by our metadata.

    One task per blocks file emits a partial and the driver folds the
    K partial rows (K = tasks) into the row — nothing is shuffled.
    ``sum_val`` is decimal(38,0): per-block sums are exact Python ints
    (:func:`rlv.blocks.exact_sum_i64`), and 38 digits absorbs any
    real-world table (10^38 > rows * max|int64|), where a bigint
    accumulator could wrap.  SQL NULL semantics throughout: NULL predicate
    rows never match; ``n_vals``/``sum``/``min``/``max`` skip NULL values;
    an empty match returns ``(0, 0, NULL, NULL, NULL)``."""
    _require_int_col(enc_dir, pred_col)
    return agg_table_files_where(
        spark, enc_dir, value_col,
        [("between", pred_col, lo, hi)],
    )


def agg_table_files_where(
    spark: SparkSession, enc_dir: str, value_col: str, preds,
):
    """Aggregation pushed into the encoded format under a CONJUNCTION of
    predicates: the same ``(n_rows, n_vals, sum_val, min_val, max_val)``
    row as :func:`agg_table_files`, for ``WHERE p1 AND p2 AND ...`` with
    the same five predicate kinds :func:`scan_table_files_where` takes
    (int zone-map ranges; string eq / IN / BETWEEN / prefix via the
    dictionary sidecars).

    Each predicate classifies every block pruned / full-match / partial
    from metadata and sidecars alone; the combined class is pruned if ANY
    predicate prunes (payload never read), full if ALL full-match (the
    value block aggregates via :func:`rlv.blocks.agg_block` without
    decoding any predicate — RLE sums its run list without expanding), and
    partial otherwise — where only the predicates NOT full-matching that
    block decode.  SQL NULL semantics per predicate and for the value
    column throughout.

    ``value_col`` may be a LIST of int columns: the predicate evaluates
    ONCE and every listed column aggregates in the same pass (k aggregate
    sets for one classification + mask), returning one row per column
    with a leading ``val_col`` label."""
    multi = isinstance(value_col, (list, tuple))
    value_cols = list(value_col) if multi else [value_col]
    if not value_cols:
        raise ValueError("value_col list must name at least one column")
    if len(value_cols) != len(set(value_cols)):
        raise ValueError(f"duplicate value column in {value_cols}")
    for vc in value_cols:
        schema = _require_int_col(enc_dir, vc)
        _require_summable(schema, vc)
    dec = _uniform_dec_parts(schema, value_cols)
    specs = _norm_preds(schema, list(preds))
    worker = _make_agg_worker(
        value_cols, specs, symbols_hex=_symbols_hex(enc_dir)
    )
    tasks = _query_tasks(enc_dir)
    from pyspark.sql import functions as F

    def _typed_agg_cols():
        """sum/min/max in SQL units: scaled-int plane -> decimal(38,s)
        sums and source-float min/max for decimal-declared columns."""
        if dec is None:
            return [
                F.col("_sum").cast("decimal(38,0)").alias("sum_val"),
                F.col("min_val").cast("bigint").alias("min_val"),
                F.col("max_val").cast("bigint").alias("max_val"),
            ]
        scale, _src = dec
        return [
            (F.col("_sum") / F.lit(10 ** scale))
            .cast(f"decimal(38,{scale})").alias("sum_val"),
            _typed_out_expr(schema, value_cols[0], src="min_val"),
            _typed_out_expr(schema, value_cols[0], src="max_val"),
        ]

    def fold(parts):
        from decimal import Decimal

        # one row per value column even with no tasks (SQL: an empty
        # match is (0, 0, NULL, NULL, NULL))
        acc = {vc: [0, 0, 0, None, None] for vc in value_cols}
        for part in parts:
            for r in part.itertuples(index=False):
                a = acc[r.val_col]
                a[0] += int(r.n_rows)
                a[1] += int(r.n_vals)
                a[2] += int(r.sum_val)
                if not pd.isna(r.min_val):
                    mn, mx = int(r.min_val), int(r.max_val)
                    a[3] = mn if a[3] is None else min(a[3], mn)
                    a[4] = mx if a[4] is None else max(a[4], mx)
        rows = [acc[vc] for vc in value_cols]
        pdf = pd.DataFrame({
            "val_col": pd.Series(value_cols, dtype=object),
            "n_rows": pd.Series([a[0] for a in rows], dtype="int64"),
            "n_vals": pd.Series([a[1] for a in rows], dtype="int64"),
            "_sum": pd.Series([Decimal(a[2]) if a[1] else None
                               for a in rows], dtype=object),
            "min_val": pd.array([a[3] for a in rows], dtype="Int64"),
            "max_val": pd.array([a[4] for a in rows], dtype="Int64"),
        })
        return _local_frame(
            spark, pdf,
            "val_col string, n_rows bigint, n_vals bigint, "
            "_sum decimal(38,0), min_val bigint, max_val bigint",
        ).select("val_col", "n_rows", "n_vals", *_typed_agg_cols())

    combined = _dispatch(
        spark, tasks, worker, "val_col string, " + AGG_PARTIAL_SCHEMA,
        fold=fold,
    )
    return combined if multi else combined.drop("val_col")


def _group_agg_out_cols(schema: dict, value_col: str):
    """sum/min/max output columns of the GROUP BY relations, in SQL
    units: decimal(38,s) sums and source-float min/max when the value
    column is decimal-declared, plain bigints otherwise (NULL sum for
    empty groups either way)."""
    from pyspark.sql import functions as F

    dec = _uniform_dec_parts(schema, [value_col])
    base = F.when(F.col("n_vals") == 0, F.lit(None)) \
        .otherwise(F.col("_sum"))
    if dec is None:
        return [
            base.cast("decimal(38,0)").alias("sum_val"),
            F.col("min_val").cast("bigint").alias("min_val"),
            F.col("max_val").cast("bigint").alias("max_val"),
        ]
    scale, _src = dec
    return [
        (base.cast("decimal(38,0)") / F.lit(10 ** scale))
        .cast(f"decimal(38,{scale})").alias("sum_val"),
        _typed_out_expr(schema, value_col, src="min_val"),
        _typed_out_expr(schema, value_col, src="max_val"),
    ]


def _uniform_dec_parts(schema: dict, value_cols: list[str]):
    """(scale, src) when the aggregate's value columns are
    decimal-declared — all of them, at ONE scale (a shared output schema
    cannot mix decimal(38,s) sums) — else None for all-plain-int; a mixed
    list raises."""
    types = schema.get("int_col_types") or {}
    parts = {
        vc: _dec_alias_parts(types.get(vc, "int64")) or None
        for vc in value_cols
    }
    decs = {p for p in parts.values() if p is not None}
    if not decs:
        return None
    if len(decs) > 1 or any(p is None for p in parts.values()):
        raise ValueError(
            "aggregate value columns mix decimal scales or decimal and "
            f"plain-int columns ({ {vc: types.get(vc, 'int64') for vc in value_cols} }); "
            "aggregate them in separate calls"
        )
    return next(iter(decs))


def _make_count_worker(preds: list[dict],
                       symbols_hex: tuple[str, ...] | None = None):
    """COUNT(*) worker over one blocks file: FULL blocks count from
    metadata alone (their recorded ``n_values``); only PARTIAL blocks
    decode — and only their non-full PREDICATE columns, never a value
    column.  One bigint per task."""
    int_preds, mem_preds, or_nodes = _spec_parts(preds)
    all_cols = _spec_cols(preds)

    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg):
        info, keys, cls, pred_cls, mem_codes, mem_full, \
            or_data, _, _ = _classify_file(
                path, file_sid, seg, all_cols, int_preds,
                mem_preds, or_nodes, symbols,
            )
        need: dict[str, set[int]] = {}
        for key, kind in cls.items():
            if kind != "partial":
                continue
            for c in _pred_need_cols(key, pred_cls, int_preds,
                                     mem_preds, or_nodes,
                                     or_data):
                need.setdefault(c, set()).add(key[1])
        return info, cls, pred_cls, mem_codes, mem_full, or_data, need

    def finish(path, file_sid, seg, plan) -> pd.DataFrame:
        from rlv import blocks as B

        info, cls, pred_cls, mem_codes, mem_full, or_data, need = plan
        blobs = _fetch_payloads(path, file_sid, seg, need)
        n = 0
        for key in sorted(cls):
            nv = info[all_cols[0]][key][0]
            if cls[key] == "full":
                n += nv
                continue
            seq, bi = key
            decoded: dict[str, tuple] = {}

            def _dec(c, seq=seq, bi=bi, nv=nv, decoded=decoded):
                if c not in decoded:
                    decoded[c] = B.decode_blocks_batch_nullable(
                        [blobs[(seq, c, bi)]], np.int64,
                        expected=[nv],
                    )
                return decoded[c]

            mask = _pred_mask(
                key, nv, pred_cls, int_preds, mem_preds,
                mem_codes, mem_full, _dec, or_nodes, or_data,
            )
            n += int(mask.sum())
        return pd.DataFrame({"n_rows": [n]})

    return _TaskOp(finish, phase1, _plan_bill)


def count_table_files_where(spark: SparkSession, enc_dir: str, preds):
    """``SELECT count(*) WHERE <conjunction>`` pushed into the encoded
    format: one row ``(n_rows)``.  The cheapest query in the pushdown
    family — NO value column is ever read: pruned blocks contribute
    nothing, FULL blocks count from their recorded ``n_values``
    (metadata only), and partial blocks decode exactly the predicate
    columns not full-matching there.  On a zone-map-clustered predicate
    the payload IO is O(boundary blocks); an all-full match (or a pure
    validity predicate over unmixed blocks) reads ZERO payload bytes.
    Takes the same predicate kinds as :func:`scan_table_files_where`.
    With NO predicates (``preds`` None/empty), ``SELECT count(*)`` is
    served from the MANIFEST alone — live splits' recorded row counts,
    zero Spark jobs, zero file IO (the statistics-served count a
    warehouse gives you)."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    if not preds:
        live = engine_files.live_splits(enc_dir)
        total = (
            0 if live is None
            else int(sum(int(n) for n in live["n_docs"]))
        )
        return _local_frame(
            spark, pd.DataFrame({"n_rows": [total]}), "n_rows bigint"
        )
    specs = _norm_preds(schema, list(preds))
    worker = _make_count_worker(specs, symbols_hex=_symbols_hex(enc_dir))
    return _dispatch(
        spark, _query_tasks(enc_dir), worker, "n_rows bigint",
        fold=lambda parts: _local_frame(
            spark,
            pd.DataFrame({"n_rows": [_summed(parts, "n_rows")]}),
            "n_rows bigint",
        ),
    )


def _make_minmax_worker(value_col: str, preds: list[dict],
                        symbols_hex: tuple[str, ...] | None = None):
    """MIN/MAX worker over one blocks file: FULL blocks contribute their
    recorded zone map (min_val/max_val over valid values — METADATA, no
    value payload); only PARTIAL blocks decode the value column (plus
    their non-full predicate columns) and fold the masked values.  One
    nullable (min_val, max_val) row per task."""
    int_preds, mem_preds, or_nodes = _spec_parts(preds)
    all_cols = list(dict.fromkeys([*_spec_cols(preds), value_col]))

    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg):
        info, keys, cls, pred_cls, mem_codes, mem_full, \
            or_data, _, _ = _classify_file(
                path, file_sid, seg, all_cols, int_preds,
                mem_preds, or_nodes, symbols,
            )
        need: dict[str, set[int]] = {}
        for key, kind in cls.items():
            if kind != "partial":
                continue
            need.setdefault(value_col, set()).add(key[1])
            for c in _pred_need_cols(key, pred_cls, int_preds,
                                     mem_preds, or_nodes,
                                     or_data):
                need.setdefault(c, set()).add(key[1])
        return info, cls, pred_cls, mem_codes, mem_full, or_data, need

    def finish(path, file_sid, seg, plan) -> pd.DataFrame:
        from rlv import blocks as B

        info, cls, pred_cls, mem_codes, mem_full, or_data, need = plan
        blobs = _fetch_payloads(path, file_sid, seg, need)
        mn = mx = None
        for key in sorted(cls):
            nv, nn, nr, bmn, bmx = info[value_col][key]
            if cls[key] == "full":
                if nr == 0:
                    continue  # all-NULL value block
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
                continue
            seq, bi = key
            decoded: dict[str, tuple] = {}

            def _dec(c, seq=seq, bi=bi, nv=nv, decoded=decoded):
                if c not in decoded:
                    decoded[c] = B.decode_blocks_batch_nullable(
                        [blobs[(seq, c, bi)]], np.int64,
                        expected=[nv],
                    )
                return decoded[c]

            mask = _pred_mask(
                key, nv, pred_cls, int_preds, mem_preds,
                mem_codes, mem_full, _dec, or_nodes, or_data,
            )
            vv, _, vvalid = _dec(value_col)
            picked = vv[mask & vvalid]
            if picked.size:
                pmn, pmx = int(picked.min()), int(picked.max())
                mn = pmn if mn is None else min(mn, pmn)
                mx = pmx if mx is None else max(mx, pmx)
        return pd.DataFrame(
            {
                "min_val": pd.array([mn], dtype="Int64"),
                "max_val": pd.array([mx], dtype="Int64"),
            }
        )

    return _TaskOp(finish, phase1, _plan_bill)


def minmax_table_files_where(spark: SparkSession, enc_dir: str,
                             value_col: str, preds):
    """``SELECT min(v), max(v) WHERE <conjunction>`` pushed into the
    encoded format: one row ``(min_val, max_val)`` with SQL NULL
    semantics (NULL values skipped; no matching valid row → NULL row).
    FULL-matching blocks contribute their recorded ZONE MAP — no value
    payload read — so on a clustered predicate (or no predicate at all:
    pass the order column's full range) the answer folds almost entirely
    from metadata; only partial (boundary) blocks decode.

    A STRING value column routes through the DISTINCT pipe instead: full
    blocks fold their dictionary sidecars (the per-block sorted-distinct
    valid values — the string zone map), partial blocks decode and mask;
    min/max are the binary-collation fold over the distinct set."""
    schema = _load_table_schema(enc_dir)
    if schema is not None and value_col in schema.get("str_cols", ()):
        from pyspark.sql import functions as F

        dv = distinct_table_files(spark, enc_dir, value_col, preds=preds)
        return dv.agg(
            F.min(value_col).alias("min_val"),
            F.max(value_col).alias("max_val"),
        )
    schema = _require_int_col(enc_dir, value_col)
    specs = _norm_preds(schema, list(preds))
    worker = _make_minmax_worker(
        value_col, specs, symbols_hex=_symbols_hex(enc_dir)
    )

    def fold(parts):
        vals = [
            (int(mn), int(mx))
            for p in parts
            for mn, mx in zip(p["min_val"], p["max_val"])
            if not pd.isna(mn)
        ]
        pdf = pd.DataFrame({
            "min_val": pd.array(
                [min(v[0] for v in vals) if vals else None], dtype="Int64"
            ),
            "max_val": pd.array(
                [max(v[1] for v in vals) if vals else None], dtype="Int64"
            ),
        })
        return _local_frame(spark, pdf, "min_val bigint, max_val bigint")

    folded = _dispatch(
        spark, _query_tasks(enc_dir), worker,
        "min_val bigint, max_val bigint",
        fold=fold,
    )
    # restore the value column's logical type (timestamp/date/float keys)
    return folded.select(
        _typed_out_expr(schema, value_col, src="min_val"),
        _typed_out_expr(schema, value_col, src="max_val"),
    )


def _group_seg_agg(keys: np.ndarray, vals: np.ndarray,
                   vvalid: np.ndarray, acc: dict, name_of) -> None:
    """Accumulate per-key aggregates of one block's masked rows into ``acc``
    ({group: [n_rows, n_vals, sum, min, max]}): stable-argsort by key, then
    ``reduceat`` over the segment boundaries — counts, valid-counts, sums,
    and sentinel-masked min/max all vectorize; the only per-group Python is
    the accumulator merge (O(distinct keys in the block), the GROUP BY
    cardinality, never rows).  Sums ride int64 ``reduceat`` under the same
    zone bound :func:`rlv.blocks.exact_sum_i64` uses and fall back to the
    exact per-segment path when values could wrap.  ``name_of`` maps a key
    to its output group (dict-code -> string, or identity for int groups)."""
    from rlv import blocks as B

    if keys.size == 0:
        return
    order = np.argsort(keys, kind="stable")
    ks = keys[order]
    vs = vals[order]
    vv = vvalid[order]
    starts = np.r_[0, np.flatnonzero(np.diff(ks)) + 1]
    ends = np.r_[starts[1:], ks.size]
    n_rows_seg = ends - starts
    n_vals_seg = np.add.reduceat(vv.astype(np.int64), starts)
    vz = np.where(vv, vs, 0)
    m = max(abs(int(vs.min())), abs(int(vs.max()))) if vs.size else 0
    if m * vs.size < 2**63:
        sums = [int(x) for x in np.add.reduceat(vz, starts)]
    else:
        sums = [B.exact_sum_i64(vz[a:b]) for a, b in zip(starts, ends)]
    lo_sent = np.iinfo(np.int64).max
    hi_sent = np.iinfo(np.int64).min
    mins = np.minimum.reduceat(np.where(vv, vs, lo_sent), starts)
    maxs = np.maximum.reduceat(np.where(vv, vs, hi_sent), starts)
    for i, k in enumerate(ks[starts]):
        g = name_of(int(k))
        cur = acc.get(g)
        if cur is None:
            cur = acc[g] = [0, 0, 0, None, None]
        cur[0] += int(n_rows_seg[i])
        nv = int(n_vals_seg[i])
        if nv:
            cur[1] += nv
            cur[2] += sums[i]
            mn, mx = int(mins[i]), int(maxs[i])
            cur[3] = mn if cur[3] is None else min(cur[3], mn)
            cur[4] = mx if cur[4] is None else max(cur[4], mx)


def _make_group_agg_worker(value_col: str, group_col: str,
                           group_is_str: bool,
                           preds: list[dict],
                           symbols_hex: tuple[str, ...] | None):
    """Grouped-aggregate worker over one blocks file for a CONJUNCTION of
    predicates: phase 1 classifies blocks per predicate exactly like
    :func:`_make_agg_worker` (shared :func:`_pred_classify`; no predicates
    = everything full-matches), phase 2 fetches group + value payloads for
    survivors (predicate payloads only for the ordinals where that
    predicate is not full) and aggregates per group key — dict CODES for a
    string group (one sidecar decode per block maps codes to names), raw
    values for an int group, NULL group keys pooled SQL-style.  Emits one
    partial row per (file, group)."""
    int_preds, mem_preds, or_nodes = _spec_parts(preds)
    pred_cols = _spec_cols(preds)
    all_cols = list(dict.fromkeys([group_col, value_col, *pred_cols]))

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "g": pd.Series(
                    [], dtype=object if group_is_str else "Int64"
                ),
                "n_rows": pd.Series([], dtype="int64"),
                "n_vals": pd.Series([], dtype="int64"),
                "sum_val": pd.Series([], dtype=object),
                "min_val": pd.Series([], dtype="Int64"),
                "max_val": pd.Series([], dtype="Int64"),
            }
        )

    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg):
        # phase 1 — one payload-free metadata read, inventory
        # cross-checks, combined pruned/full/partial class
        info, keys, cls, pred_cls, mem_codes, mem_full, \
            or_data, _, sums = _classify_file(
                path, file_sid, seg, all_cols, int_preds,
                mem_preds, or_nodes, symbols,
            )
        if not cls:
            return None

        # single-group shortcut: a full-matching block whose group
        # zone map is a point (min == max, no NULL keys) — or whose
        # keys are ALL NULL — belongs to exactly one group, so its
        # value stats row (count, n_nulls, sum_val, zone map) IS
        # its partial: neither payload decodes.  On group-clustered
        # data (cluster_encode_table_files) that makes GROUP BY
        # metadata-only away from cluster boundaries.
        single: dict[tuple[str, int], int | None] = {}
        for key, kind in cls.items():
            if kind != "full":
                continue
            if sums[value_col].get(key) is None:
                continue  # pre-sum_val generation
            gnv, gnn, gnr, gmn, gmx = info[group_col][key]
            if gnn == 0 and gmn == gmx:
                single[key] = gmx  # one non-NULL key
            elif gnn == gnv:
                single[key] = None  # SQL's pooled NULL group

        # phase 2 — group/value payloads for the non-shortcut
        # survivors only; predicate payloads only at the ordinals
        # where some partial block needs that predicate decoded
        need: dict[str, set[int]] = {group_col: set(),
                                     value_col: set()}
        for key, kind in cls.items():
            if key in single:
                continue
            need[group_col].add(key[1])
            need[value_col].add(key[1])
            if kind != "partial":
                continue
            for c in _pred_need_cols(key, pred_cls, int_preds,
                                     mem_preds, or_nodes, or_data):
                need.setdefault(c, set()).add(key[1])
        return (info, cls, pred_cls, mem_codes, mem_full, or_data, sums,
                single, need)

    def finish(path, file_sid, seg, plan) -> pd.DataFrame:
        from decimal import Decimal

        from rlv import blocks as B

        if plan is None:
            return _empty()
        (info, cls, pred_cls, mem_codes, mem_full, or_data, sums, single,
         need) = plan
        blobs = _fetch_payloads(path, file_sid, seg, need)
        side = (
            _read_dict_sidecar(path, file_sid, col=group_col,
                               seg=seg)
            if group_is_str
            else None
        )
        acc: dict[object, list] = {}
        for key in sorted(cls):
            nv_rows = info[group_col][key][0]
            if key in single:
                code = single[key]
                if code is None:
                    g = None
                elif group_is_str:
                    blob = None if side is None else side.get(
                        (key[0], group_col, key[1])
                    )
                    if blob is None:
                        raise ValueError(
                            f"column {group_col!r} is missing the "
                            f"dictionary for block {key[1]} of "
                            f"segment {key[0]} — corrupt dataset"
                        )
                    # a point zone map means one distinct valid
                    # value: the block dictionary holds exactly it
                    g = B.decode_strings_arrow(
                        blob, symbols
                    ).to_pylist()[code]
                else:
                    g = code
                vnv, vnn, _, vmn, vmx = info[value_col][key]
                cur = acc.get(g)
                if cur is None:
                    cur = acc[g] = [0, 0, 0, None, None]
                cur[0] += vnv
                nvalid = vnv - vnn
                if nvalid:
                    cur[1] += nvalid
                    cur[2] += sums[value_col][key]
                    cur[3] = vmn if cur[3] is None \
                        else min(cur[3], vmn)
                    cur[4] = vmx if cur[4] is None \
                        else max(cur[4], vmx)
                continue
            decoded: dict[str, tuple] = {}

            def _dec(c, key=key, nv=nv_rows, decoded=decoded):
                if c in decoded:
                    return decoded[c]
                if (key[0], c, key[1]) not in blobs:
                    raise ValueError(
                        f"column {c!r} is missing block {key[1]} "
                        f"of segment {key[0]} — corrupt dataset"
                    )
                decoded[c] = B.decode_blocks_batch_nullable(
                    [blobs[(key[0], c, key[1])]], np.int64,
                    expected=[nv],
                )
                return decoded[c]

            if cls[key] == "full":
                mask = np.ones(nv_rows, dtype=bool)
            else:
                mask = _pred_mask(
                    key, nv_rows, pred_cls, int_preds, mem_preds,
                    mem_codes, mem_full, _dec, or_nodes, or_data,
                )
                if not mask.any():
                    continue
            gv, _, gvalid = _dec(group_col)
            vv, _, vvalid = _dec(value_col)
            if group_is_str:
                blob = None if side is None else side.get(
                    (key[0], group_col, key[1])
                )
                if blob is None and bool((mask & gvalid).any()):
                    raise ValueError(
                        f"column {group_col!r} is missing the "
                        f"dictionary for block {key[1]} of segment "
                        f"{key[0]} — corrupt dataset"
                    )
                names = (
                    []
                    if blob is None
                    else B.decode_strings_arrow(
                        blob, symbols
                    ).to_pylist()
                )
                name_of = names.__getitem__
            else:
                name_of = lambda k: k  # noqa: E731
            sel = mask & gvalid
            _group_seg_agg(
                gv[sel], vv[sel], vvalid[sel], acc, name_of
            )
            nsel = mask & ~gvalid  # SQL: NULL keys form one group
            if nsel.any():
                _group_seg_agg(
                    np.zeros(int(nsel.sum()), np.int64),
                    vv[nsel], vvalid[nsel], acc,
                    lambda _k: None,
                )
        if not acc:
            return _empty()
        groups = sorted(
            acc, key=lambda g: (g is not None, g)
        )
        return pd.DataFrame(
            {
                "g": pd.Series(
                    groups,
                    dtype=object if group_is_str else "Int64",
                ),
                "n_rows": pd.Series(
                    [acc[g][0] for g in groups], dtype="int64"
                ),
                "n_vals": pd.Series(
                    [acc[g][1] for g in groups], dtype="int64"
                ),
                "sum_val": pd.Series(
                    [Decimal(acc[g][2]) for g in groups],
                    dtype=object,
                ),
                "min_val": pd.Series(
                    [acc[g][3] for g in groups], dtype="Int64"
                ),
                "max_val": pd.Series(
                    [acc[g][4] for g in groups], dtype="Int64"
                ),
            }
        )

    return _TaskOp(finish, phase1, _plan_bill)


def _make_multi_group_agg_worker(value_col: str, group_cols: list[str],
                                 str_groups: set[str],
                                 preds: list[dict],
                                 symbols_hex: tuple[str, ...] | None):
    """Multi-key grouped-aggregate worker: the composite-key counterpart
    of :func:`_make_group_agg_worker`.  Per block, each group column maps
    to a dense local id (dictionary code + 1 for strings, unique-rank + 1
    for ints, 0 = NULL — so NULLs participate in key TUPLES, SQL multi-key
    semantics), then the columns combine one at a time in mixed radix with
    a ``np.unique`` re-densification after each step — composite values
    never exceed (block distinct) × (radix), so int64 cannot overflow at
    any ``rows_per_block``.  Aggregation reuses :func:`_group_seg_agg`
    with a tuple-naming lookup; one partial row per (file, key tuple)."""
    int_preds, mem_preds, or_nodes = _spec_parts(preds)
    pred_cols = _spec_cols(preds)
    all_cols = list(dict.fromkeys([*group_cols, value_col, *pred_cols]))
    side_cols = sorted(str_groups)

    def _empty() -> pd.DataFrame:
        cols = {
            g: pd.Series(
                [], dtype=object if g in str_groups else "Int64"
            )
            for g in group_cols
        }
        cols.update(
            {
                "n_rows": pd.Series([], dtype="int64"),
                "n_vals": pd.Series([], dtype="int64"),
                "sum_val": pd.Series([], dtype=object),
                "min_val": pd.Series([], dtype="Int64"),
                "max_val": pd.Series([], dtype="Int64"),
            }
        )
        return pd.DataFrame(cols)

    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg):
        info, keys, cls, pred_cls, mem_codes, mem_full, \
            or_data, _, sums = _classify_file(
                path, file_sid, seg, all_cols, int_preds,
                mem_preds, or_nodes, symbols,
            )
        if not cls:
            return None

        # single-group shortcut (the single-key worker's, lifted
        # to tuples): a full block where EVERY group column's zone
        # map is a point (or is all-NULL) belongs to one group
        # tuple — its value stats row is its partial, no payload
        single: dict[tuple[str, int], bool] = {}
        for key, kind in cls.items():
            if kind != "full":
                continue
            if sums[value_col].get(key) is None:
                continue
            ok = True
            for g in group_cols:
                gnv, gnn, gnr, gmn, gmx = info[g][key]
                if not (gnn == 0 and gmn == gmx) \
                        and gnn != gnv:
                    ok = False
                    break
            if ok:
                single[key] = True

        need: dict[str, set[int]] = {
            c: set()
            for c in dict.fromkeys([*group_cols, value_col])
        }
        for key, kind in cls.items():
            if key in single:
                continue
            for c in dict.fromkeys([*group_cols, value_col]):
                need[c].add(key[1])
            if kind != "partial":
                continue
            for c in _pred_need_cols(key, pred_cls, int_preds,
                                     mem_preds, or_nodes, or_data):
                need.setdefault(c, set()).add(key[1])
        return (info, cls, pred_cls, mem_codes, mem_full, or_data, sums,
                single, need)

    def finish(path, file_sid, seg, plan) -> pd.DataFrame:
        from decimal import Decimal

        from rlv import blocks as B

        if plan is None:
            return _empty()
        (info, cls, pred_cls, mem_codes, mem_full, or_data, sums, single,
         need) = plan
        blobs = _fetch_payloads(path, file_sid, seg, need)
        side = (
            _read_dict_sidecar(path, file_sid, col=side_cols,
                               seg=seg)
            if side_cols
            else {}
        )
        acc: dict[tuple, list] = {}
        for key in sorted(cls):
            nv_rows = info[group_cols[0]][key][0]
            if key in single:
                parts = []
                for g in group_cols:
                    gnv, gnn, _, _, gmx = info[g][key]
                    if gnn == gnv:
                        parts.append(None)
                    elif g in str_groups:
                        blob = side.get((key[0], g, key[1]))
                        if blob is None:
                            raise ValueError(
                                f"column {g!r} is missing the "
                                f"dictionary for block {key[1]} "
                                f"of segment {key[0]} — corrupt "
                                "dataset"
                            )
                        parts.append(
                            B.decode_strings_arrow(
                                blob, symbols
                            ).to_pylist()[gmx]
                        )
                    else:
                        parts.append(gmx)
                gt = tuple(parts)
                vnv, vnn, _, vmn, vmx = info[value_col][key]
                cur = acc.get(gt)
                if cur is None:
                    cur = acc[gt] = [0, 0, 0, None, None]
                cur[0] += vnv
                nvalid = vnv - vnn
                if nvalid:
                    cur[1] += nvalid
                    cur[2] += sums[value_col][key]
                    cur[3] = vmn if cur[3] is None \
                        else min(cur[3], vmn)
                    cur[4] = vmx if cur[4] is None \
                        else max(cur[4], vmx)
                continue
            decoded: dict[str, tuple] = {}

            def _dec(c, key=key, nv=nv_rows, decoded=decoded):
                if c in decoded:
                    return decoded[c]
                if (key[0], c, key[1]) not in blobs:
                    raise ValueError(
                        f"column {c!r} is missing block {key[1]} "
                        f"of segment {key[0]} — corrupt dataset"
                    )
                decoded[c] = B.decode_blocks_batch_nullable(
                    [blobs[(key[0], c, key[1])]], np.int64,
                    expected=[nv],
                )
                return decoded[c]

            if cls[key] == "full":
                mask = np.ones(nv_rows, dtype=bool)
            else:
                mask = _pred_mask(
                    key, nv_rows, pred_cls, int_preds, mem_preds,
                    mem_codes, mem_full, _dec, or_nodes, or_data,
                )
                if not mask.any():
                    continue
            # per-column dense local ids (0 = NULL) + name slots
            comp: np.ndarray | None = None
            lookup: list[tuple] = []
            for g in group_cols:
                gv, _, gvalid = _dec(g)
                if g in str_groups:
                    blob = side.get((key[0], g, key[1]))
                    if blob is None and bool(gvalid.any()):
                        raise ValueError(
                            f"column {g!r} is missing the "
                            f"dictionary for block {key[1]} of "
                            f"segment {key[0]} — corrupt dataset"
                        )
                    gnames = (
                        []
                        if blob is None
                        else B.decode_strings_arrow(
                            blob, symbols
                        ).to_pylist()
                    )
                    names_g = [None, *gnames]
                    ids = np.where(gvalid, gv + 1, 0)
                else:
                    uniq = np.unique(gv[gvalid])
                    names_g = [None, *(int(u) for u in uniq)]
                    ids = np.where(
                        gvalid, np.searchsorted(uniq, gv) + 1, 0
                    )
                radix = len(names_g)
                if comp is None:
                    dense, inv = np.unique(
                        ids, return_inverse=True
                    )
                    lookup = [(names_g[int(d)],) for d in dense]
                    comp = inv.astype(np.int64)
                else:
                    dense, inv = np.unique(
                        comp * radix + ids, return_inverse=True
                    )
                    lookup = [
                        lookup[int(d // radix)]
                        + (names_g[int(d % radix)],)
                        for d in dense
                    ]
                    comp = inv.astype(np.int64)
            vv, _, vvalid = _dec(value_col)
            _group_seg_agg(
                comp[mask], vv[mask], vvalid[mask], acc,
                lookup.__getitem__,
            )
        if not acc:
            return _empty()
        groups = sorted(
            acc,
            key=lambda t: tuple(
                (v is not None, v) for v in t
            ),
        )
        cols = {
            g: pd.Series(
                [t[i] for t in groups],
                dtype=object if g in str_groups else "Int64",
            )
            for i, g in enumerate(group_cols)
        }
        cols.update(
            {
                "n_rows": pd.Series(
                    [acc[t][0] for t in groups], dtype="int64"
                ),
                "n_vals": pd.Series(
                    [acc[t][1] for t in groups], dtype="int64"
                ),
                "sum_val": pd.Series(
                    [Decimal(acc[t][2]) for t in groups],
                    dtype=object,
                ),
                "min_val": pd.Series(
                    [acc[t][3] for t in groups], dtype="Int64"
                ),
                "max_val": pd.Series(
                    [acc[t][4] for t in groups], dtype="Int64"
                ),
            }
        )
        return pd.DataFrame(cols)

    return _TaskOp(finish, phase1, _plan_bill)


def agg_table_files_by(
    spark: SparkSession, enc_dir: str, value_col: str, group_col: str,
    pred_col: str | None = None, lo: int | None = None,
    hi: int | None = None, preds=None,
):
    """GROUP BY pushed into the encoded format: one row per group equal to

    ``SELECT g, count(*), count(v), sum(v), min(v), max(v) FROM t
    [WHERE p BETWEEN lo AND hi] GROUP BY g``

    computed FROM THE BLOCKS — the grouped counterpart of
    :func:`agg_table_files`.  ``group_col`` may be a STRING column (grouping
    runs over per-block dictionary CODES; each block's small sidecar decodes
    once to name its groups — the strings themselves never materialize
    per-row) or an INT column (raw values key the groups).  An optional
    int-range predicate reuses the zone-map block classification: pruned
    blocks are never read, full-match blocks skip the predicate decode, only
    boundary blocks decode it.

    Scale shape: one task per blocks file computes per-group partials with
    ``argsort`` + ``reduceat`` (per-group Python is O(groups), never rows);
    the only shuffle carries <= groups x files partial rows into a tiny
    final combine — map-side partial aggregation over the compressed
    format.  SQL semantics throughout: NULL group keys pool into one NULL
    group, NULL predicate rows never match, ``n_vals``/``sum``/``min``/
    ``max`` skip NULL values (``sum_val`` is NULL for a group with no valid
    values, exact decimal(38,0) otherwise).

    ``preds`` generalizes the single range to a CONJUNCTION of the same
    predicate kinds :func:`scan_table_files_where` takes (mutually
    exclusive with ``pred_col``/``lo``/``hi``): per-predicate block
    classification and mask semantics are exactly
    :func:`agg_table_files_where`'s.

    ``group_col`` may also be a LIST of columns (``GROUP BY a, b, ...``,
    any mix of int and string): per block each key column maps to a dense
    local id (dictionary code for strings, unique rank for ints, with a
    NULL slot — NULLs participate in key tuples, SQL multi-key
    semantics), the ids combine in mixed radix with re-densification so
    the composite can never overflow, and the same argsort+reduceat
    aggregation runs once over the composite; the shuffle carries
    ≤ (distinct key tuples) × files partial rows."""
    schema = _require_int_col(enc_dir, value_col)
    _require_summable(schema, value_col)
    if isinstance(group_col, (list, tuple)):
        group_cols = list(group_col)
        if len(group_cols) != len(set(group_cols)):
            raise ValueError(f"duplicate group column in {group_cols}")
        if not group_cols:
            raise ValueError("group_col list must name at least one "
                             "column")
        if len(group_cols) == 1:
            group_col = group_cols[0]
            group_cols = None
    else:
        group_cols = None
    for g in group_cols if group_cols is not None else [group_col]:
        if g not in schema["str_cols"] and g not in schema["int_cols"]:
            raise ValueError(
                f"unknown group column {g!r}; dataset has "
                f"int_cols={schema['int_cols']} "
                f"str_cols={schema['str_cols']}"
            )
    group_is_str = group_cols is None and group_col in schema["str_cols"]
    if pred_col is not None:
        if preds is not None:
            raise ValueError("pass either pred_col/lo/hi or preds, not both")
        if lo is None or hi is None:
            raise ValueError("pred_col requires lo and hi")
        _require_int_col(enc_dir, pred_col)
        specs = _norm_preds(
            schema, [("between", pred_col, lo, hi)]
        )
    elif lo is not None or hi is not None:
        raise ValueError("lo/hi require pred_col")
    else:
        specs = _norm_preds(schema, list(preds)) if preds else []
    tasks = _query_tasks(enc_dir)
    from pyspark.sql import functions as F

    if group_cols is not None:
        # multi-key GROUP BY: composite dense keys per block, tuple
        # accumulator, final combine on every key column
        str_groups = {g for g in group_cols if g in schema["str_cols"]}
        g_schema = ", ".join(
            f"`{g}` {'string' if g in str_groups else 'bigint'}"
            for g in group_cols
        )
        out_schema = g_schema + ", " + AGG_PARTIAL_SCHEMA
        if tasks.empty:
            return spark.createDataFrame([], out_schema)
        def combine_multi(partials):
            for g in group_cols:  # SQL key merge: -0.0 == 0.0, NaNs pool
                partials = partials.withColumn(
                    g, _group_key_norm_expr(schema, g)
                )
            return partials.groupBy(*group_cols).agg(
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_vals").alias("n_vals"),
                F.sum("sum_val").alias("_sum"),
                F.min("min_val").alias("min_val"),
                F.max("max_val").alias("max_val"),
            ).select(
                *[_typed_out_expr(schema, g) for g in group_cols],
                F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("n_vals").cast("bigint").alias("n_vals"),
                *_group_agg_out_cols(schema, value_col),
            )

        return _dispatch(
            spark, tasks,
            _make_multi_group_agg_worker(
                value_col, group_cols, str_groups, specs,
                _symbols_hex(enc_dir),
            ),
            out_schema, combine=combine_multi,
        )

    g_type = "string" if group_is_str else "bigint"
    out_schema = (
        f"{group_col} {g_type}, n_rows bigint, n_vals bigint, "
        "sum_val decimal(38,0), min_val bigint, max_val bigint"
    )
    if tasks.empty:
        return spark.createDataFrame([], out_schema)
    def combine(partials):
        partials = partials.withColumn(
            "g", _group_key_norm_expr(schema, group_col, src="g")
        )  # SQL key merge: -0.0 == 0.0, NaNs pool into one group
        return partials.groupBy("g").agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_vals").alias("n_vals"),
            F.sum("sum_val").alias("_sum"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        ).select(
            _typed_out_expr(schema, group_col, src="g").alias(group_col),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_vals").cast("bigint").alias("n_vals"),
            *_group_agg_out_cols(schema, value_col),
        )

    return _dispatch(
        spark, tasks,
        _make_group_agg_worker(
            value_col, group_col, group_is_str, specs,
            _symbols_hex(enc_dir),
        ),
        f"g {g_type}, " + AGG_PARTIAL_SCHEMA, combine=combine,
    )


def _has_nulls(path: str, col: str, seg: str | None) -> bool:
    """Whether any block of ``col`` (in segment ``seg``) records a NULL."""
    meta = _read_filtered(path, ["n_nulls"], col=col, seg=seg)
    return bool((meta.column("n_nulls").to_numpy() > 0).any())


def _int_set_frame(col: str, vals: np.ndarray,
                   has_null: bool) -> pd.DataFrame:
    """One int column of distinct values, plus the one NULL row SQL
    DISTINCT keeps when ``has_null``."""
    mask = np.zeros(vals.size + (1 if has_null else 0), bool)
    if has_null:
        vals = np.concatenate([vals, np.zeros(1, np.int64)])
        mask[-1] = True
    return pd.DataFrame({col: pd.arrays.IntegerArray(vals, mask)})


def _make_distinct_worker(col: str, symbols_hex: tuple[str, ...] | None):
    """Distinct-values worker over one blocks file: decode the column's
    dictionary sidecars (each a block's sorted-distinct VALID values), union
    them, and append one NULL row iff any block's metadata records
    ``n_nulls > 0`` — no payload column is ever read."""
    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg) -> pd.DataFrame:
        from rlv import blocks as B

        vals: set[bytes] = set()
        for blob in _read_dict_sidecar(
            path, file_sid, col=col, seg=seg
        ).values():
            vals.update(
                B.decode_strings_arrow(blob, symbols).to_pylist()
            )
        out: list[str | None] = [
            v.decode("utf-8") for v in sorted(vals)
        ]
        if _has_nulls(path, col, seg):
            out.append(None)  # SQL DISTINCT keeps one NULL row
        return pd.DataFrame({col: pd.Series(out, dtype=object)})

    return _TaskOp(_planned_frame, phase1)


def _make_idx_distinct_worker(col: str,
                              symbols_hex: tuple[str, ...] | None):
    """Distinct-values worker for an INDEXED int column: the membership
    sidecar IS each block's sorted-distinct valid plane values, so the
    exact distinct set unions the (small) sidecars — ZERO payload bytes,
    the same format-beats-raw shape string DISTINCT gets — with the NULL
    row from block metadata."""
    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg) -> pd.DataFrame:
        from rlv import blocks as B

        keys: set[bytes] = set()
        for blob in _read_dict_sidecar(
            path, file_sid, col=col, seg=seg
        ).values():
            keys.update(
                B.decode_strings_arrow(blob, symbols).to_pylist()
            )
        if keys:
            vals = (
                np.frombuffer(b"".join(sorted(keys)), ">u8")
                .astype(np.uint64)
                .view(np.int64)
                ^ np.int64(-(2 ** 63))
            )
        else:
            vals = np.empty(0, np.int64)
        return _int_set_frame(col, vals, _has_nulls(path, col, seg))

    return _TaskOp(_planned_frame, phase1)


def _make_int_distinct_worker(col: str):
    """Distinct-values worker over one blocks file, INT column: union each
    block's :func:`rlv.blocks.distinct_block_values` (RLE uniques its run
    values without expanding rows; DICT reads only its dictionary plane) and
    append one NULL row iff any block records ``n_nulls > 0``."""

    def phase1(path, file_sid, seg):
        meta = _read_filtered(path, ["n_values", "n_nulls"], col=col,
                              seg=seg)
        return (int(meta.column("n_values").to_numpy().sum()),
                bool((meta.column("n_nulls").to_numpy() > 0).any()))

    def finish(path, file_sid, seg, plan) -> pd.DataFrame:
        from rlv import blocks as B

        btbl = _read_filtered(path, ["block"], col=col, seg=seg)
        parts = [
            B.distinct_block_values(blob)
            for blob in btbl.column("block").to_pylist()
        ]
        vals = (
            np.unique(np.concatenate(parts))
            if parts
            else np.empty(0, np.int64)
        )
        return _int_set_frame(col, vals, plan[1])

    return _TaskOp(finish, phase1, lambda plan: plan[0])


def _make_distinct_where_worker(col: str, is_str: bool, preds: list[dict],
                                symbols_hex: tuple[str, ...] | None = None):
    """Distinct-values worker under a predicate CONJUNCTION: blocks any
    predicate prunes contribute nothing; FULL blocks contribute their whole
    dictionary (string) / codec-level distinct (int) plus the NULL row when
    they hold NULLs; PARTIAL blocks decode only the non-full predicates,
    mask, and contribute the matched rows' values."""
    int_preds, mem_preds, or_nodes = _spec_parts(preds)
    pred_cols = _spec_cols(preds)
    all_cols = list(dict.fromkeys([col, *pred_cols]))

    symbols = _symbol_list(symbols_hex)

    def _frame(svals: set, iparts: list, has_null: bool):
        if is_str:
            out: list = [v.decode("utf-8") for v in sorted(svals)]
            if has_null:
                out.append(None)  # SQL DISTINCT keeps one NULL row
            return pd.DataFrame({col: pd.Series(out, dtype=object)})
        vals = (
            np.unique(np.concatenate(iparts))
            if iparts
            else np.empty(0, np.int64)
        )
        return _int_set_frame(col, vals, has_null)

    def phase1(path, file_sid, seg):
        info, keys, cls, pred_cls, mem_codes, mem_full, \
            or_data, _, _ = _classify_file(
                path, file_sid, seg, all_cols, int_preds,
                mem_preds, or_nodes, symbols,
            )
        if not cls:
            return None
        # payload need: int distinct reads the column everywhere it
        # survives (codec-level distinct), string distinct only at
        # partial blocks (full blocks ride the sidecar); predicate
        # columns only where that predicate is not full
        need: dict[str, set[int]] = {}
        if not is_str:
            need[col] = {bi for _, bi in cls}
        else:
            part = {
                bi for (_, bi), kk in cls.items() if kk == "partial"
            }
            if part:
                need[col] = part
        for key, kind in cls.items():
            if kind != "partial":
                continue
            for c in _pred_need_cols(key, pred_cls, int_preds,
                                     mem_preds, or_nodes, or_data):
                need.setdefault(c, set()).add(key[1])
        return info, cls, pred_cls, mem_codes, mem_full, or_data, need

    def finish(path, file_sid, seg, plan) -> pd.DataFrame:
        import pyarrow as pa

        from rlv import blocks as B

        if plan is None:
            return _frame(set(), [], False)
        info, cls, pred_cls, mem_codes, mem_full, or_data, need = plan
        blobs = _fetch_payloads(path, file_sid, seg, need)
        side = (
            _read_dict_sidecar(
                path, file_sid, col=col,
                block_idx=sorted({bi for _, bi in cls}),
                seg=seg,
            )
            if is_str
            else {}
        )
        svals: set[bytes] = set()
        iparts: list[np.ndarray] = []
        has_null = False
        for key in sorted(cls):
            seq, bi = key
            nv, nn = info[col][key][0], info[col][key][1]
            if cls[key] == "full":
                if nn > 0:
                    has_null = True
                if is_str:
                    blob = side.get((seq, col, bi))
                    if blob is None:
                        if nv - nn > 0:
                            raise ValueError(
                                f"column {col!r} is missing the "
                                f"dictionary for block {bi} of "
                                f"segment {seq} — corrupt dataset"
                            )
                        continue  # all-NULL block: NULL row only
                    svals.update(
                        B.decode_strings_arrow(
                            blob, symbols
                        ).to_pylist()
                    )
                else:
                    iparts.append(
                        B.distinct_block_values(
                            blobs[(seq, col, bi)]
                        )
                    )
                continue
            decoded: dict[str, tuple] = {}

            def _dec(c, seq=seq, bi=bi, nv=nv, decoded=decoded):
                if c not in decoded:
                    decoded[c] = B.decode_blocks_batch_nullable(
                        [blobs[(seq, c, bi)]], np.int64,
                        expected=[nv],
                    )
                return decoded[c]

            mask = _pred_mask(
                key, nv, pred_cls, int_preds, mem_preds,
                mem_codes, mem_full, _dec, or_nodes, or_data,
            )
            if not mask.any():
                continue
            cv, _, cvalid = _dec(col)
            if bool((mask & ~cvalid).any()):
                has_null = True
            sel = mask & cvalid
            if not sel.any():
                continue
            if is_str:
                codes = np.unique(cv[sel])
                uniq = B.decode_strings_arrow(
                    side[(seq, col, bi)], symbols
                )
                svals.update(
                    uniq.take(pa.array(codes)).to_pylist()
                )
            else:
                iparts.append(np.unique(cv[sel]))
        return _frame(svals, iparts, has_null)

    return _TaskOp(finish, phase1, _plan_bill)


def distinct_table_files(spark: SparkSession, enc_dir: str, col: str,
                         preds=None):
    """``SELECT DISTINCT col`` pushed into the encoded format.

    String columns never touch a payload byte: a string column's per-block
    dictionary sidecar IS its sorted-distinct valid values, so the exact
    distinct set is the union of
    the (small) sidecars, and the NULL row's presence comes from the block
    metadata's ``n_nulls`` — the strongest format-beats-raw query: IO is
    O(distinct values), independent of row count.

    Int columns push DISTINCT into the codecs instead
    (:func:`rlv.blocks.distinct_block_values`): an RLE block uniques its run
    values without expanding a single row and a DICT block reads only its
    dictionary plane, so on low-NDV / run-heavy columns the work is
    O(runs + dictionary entries), not O(rows) — the payload is read but
    never row-expanded.

    Scale shape (both types): one task per blocks file emits its local
    distinct set; the only shuffle is Spark's ``distinct()`` over per-file
    distinct values (bounded by NDV x files, never rows).

    ``preds`` restricts DISTINCT to rows matching a CONJUNCTION of the
    same five predicate kinds :func:`scan_table_files_where` takes (SQL
    ``SELECT DISTINCT col WHERE ...``): predicate-pruned blocks contribute
    nothing, FULL blocks keep the metadata-only shape (whole dictionary /
    codec-level distinct), and only PARTIAL blocks decode their non-full
    predicates and mask."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    if col not in schema["str_cols"] and col not in schema["int_cols"]:
        raise ValueError(
            f"{col!r} is not a column of this dataset "
            f"(int_cols={schema['int_cols']} str_cols={schema['str_cols']})"
        )
    is_str = col in schema["str_cols"]
    if preds:
        worker = _make_distinct_where_worker(
            col, is_str, _norm_preds(schema, list(preds)),
            symbols_hex=_symbols_hex(enc_dir),
        )
    elif is_str:
        worker = _make_distinct_worker(col, _symbols_hex(enc_dir))
    elif col in schema.get("index_cols", ()):
        # membership-indexed int column: the sidecar IS the distinct set
        worker = _make_idx_distinct_worker(col, _symbols_hex(enc_dir))
    else:
        worker = _make_int_distinct_worker(col)
    tasks = _query_tasks(enc_dir)
    out_schema = f"`{col}` {'string' if col in schema['str_cols'] else 'bigint'}"
    if tasks.empty:
        out = spark.createDataFrame([], out_schema)
    else:
        out = _dispatch(
            spark, tasks, worker, out_schema,
            combine=lambda parts: parts.withColumn(
                col, _group_key_norm_expr(schema, col)
            ).distinct(),  # SQL DISTINCT merges -0.0/0.0 and all NaNs
        )
    return out.select(_typed_out_expr(schema, col))


EXPLAIN_SCHEMA = (
    "files bigint, blocks_total bigint, blocks_pruned bigint, "
    "blocks_full bigint, blocks_partial bigint, rows_total bigint, "
    "rows_pruned bigint, rows_surviving bigint, payload_bytes bigint"
)


def _make_explain_worker(preds: list[dict], read_cols: list[str],
                         symbols_hex: tuple[str, ...] | None):
    """EXPLAIN worker over one blocks file: run the EXACT phase-1
    classification the scan would run (shared :func:`_pred_classify` —
    metadata + dictionary sidecars, zero payload bytes) and report what
    phase 2 WOULD read: per-class block/row counts and the exact sum of
    surviving blocks' ``enc_bytes`` across the columns the scan fetches
    (predicate + projected)."""
    int_preds, mem_preds, or_nodes = _spec_parts(preds)
    pred_cols = _spec_cols(preds)
    all_cols = list(dict.fromkeys([*pred_cols, *read_cols]))

    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg) -> pd.DataFrame:
        info, keys, cls, pred_cls, _, _, _, ebytes, _ = \
            _classify_file(
                path, file_sid, seg, all_cols, int_preds,
                mem_preds, or_nodes, symbols, with_enc_bytes=True,
            )
        # mirror the scan's payload planner: a pred that
        # full-matches EVERY surviving key never reads its column
        # (unless projected or referenced by an OR leaf)
        surv_keys = set(cls)
        needed = set(read_cols) | {
            atom["col"] for node in or_nodes for leaf in node
            for atom in _leaf_atoms(leaf)
        }
        leaf_preds = [*int_preds, *mem_preds]
        for i, p in enumerate(leaf_preds):
            if p.get("mask_free"):
                continue  # classification-only: never read
            if not all(
                pred_cls[i].get(k) == "full" for k in surv_keys
            ) or not surv_keys:
                needed.add(p["col"])
        billed = [c for c in all_cols if c in needed]
        n_full = n_part = rows_surv = rows_total = 0
        payload = 0
        for key in keys:
            nv = info[all_cols[0]][key][0]
            rows_total += nv
            kind = cls.get(key)
            if kind is None:
                continue
            if kind == "full":
                n_full += 1
            else:
                n_part += 1
            rows_surv += nv
            payload += sum(
                ebytes[c].get(key, 0) for c in billed
            )
        return pd.DataFrame(
            {
                "files": pd.Series([1], dtype="int64"),
                "blocks_total": pd.Series([len(keys)],
                                          dtype="int64"),
                "blocks_pruned": pd.Series(
                    [len(keys) - n_full - n_part], dtype="int64"
                ),
                "blocks_full": pd.Series([n_full], dtype="int64"),
                "blocks_partial": pd.Series([n_part],
                                            dtype="int64"),
                "rows_total": pd.Series([rows_total],
                                        dtype="int64"),
                "rows_pruned": pd.Series(
                    [rows_total - rows_surv], dtype="int64"
                ),
                "rows_surviving": pd.Series([rows_surv],
                                            dtype="int64"),
                "payload_bytes": pd.Series([payload],
                                           dtype="int64"),
            }
        )

    return _TaskOp(_planned_frame, phase1)


def _make_agg_explain_worker(value_cols: list[str], preds: list[dict],
                             symbols_hex: tuple[str, ...] | None):
    """EXPLAIN worker for the aggregate: the exact phase-1 classification
    :func:`_make_agg_worker` runs, reporting what its phase 2 WOULD read —
    full blocks with a recorded ``sum_val`` are served from the stats row
    (zero payload), so the bill is value payload at partial keys (plus
    full keys of pre-``sum_val`` files) and predicate payload at partial
    keys where that predicate is not full."""
    int_preds, mem_preds, or_nodes = _spec_parts(preds)
    pred_cols = _spec_cols(preds)
    all_cols = list(dict.fromkeys([*pred_cols, *value_cols]))

    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg) -> pd.DataFrame:
        info, keys, cls, pred_cls, _, _, or_data, ebytes, sums = \
            _classify_file(
                path, file_sid, seg, all_cols, int_preds,
                mem_preds, or_nodes, symbols, with_enc_bytes=True,
            )
        n_full = n_part = n_meta = rows_total = 0
        payload = 0
        for key in keys:
            nv = info[all_cols[0]][key][0]
            rows_total += nv
            kind = cls.get(key)
            if kind is None:
                continue
            if kind == "full":
                n_full += 1
                served = True
                for vc in value_cols:
                    if sums[vc].get(key) is None:
                        payload += ebytes[vc].get(key, 0)
                        served = False
                if served:
                    n_meta += 1
                continue
            n_part += 1
            for vc in value_cols:
                payload += ebytes[vc].get(key, 0)
            for c in _pred_need_cols(key, pred_cls, int_preds,
                                     mem_preds, or_nodes,
                                     or_data):
                if c not in value_cols:
                    payload += ebytes[c].get(key, 0)
        return pd.DataFrame(
            {
                "blocks_total": pd.Series([len(keys)],
                                          dtype="int64"),
                "blocks_pruned": pd.Series(
                    [len(keys) - n_full - n_part], dtype="int64"
                ),
                "blocks_full": pd.Series([n_full], dtype="int64"),
                "blocks_partial": pd.Series([n_part],
                                            dtype="int64"),
                "blocks_meta_served": pd.Series([n_meta],
                                                dtype="int64"),
                "rows_total": pd.Series([rows_total],
                                        dtype="int64"),
                "payload_bytes": pd.Series([payload],
                                           dtype="int64"),
            }
        )

    return _TaskOp(_planned_frame, phase1)


AGG_EXPLAIN_SCHEMA = (
    "blocks_total bigint, blocks_pruned bigint, blocks_full bigint, "
    "blocks_partial bigint, blocks_meta_served bigint, rows_total bigint, "
    "payload_bytes bigint"
)


def explain_agg_table_files(
    spark: SparkSession, enc_dir: str, value_col, preds,
):
    """EXPLAIN for the pushed-down aggregate: ONE row reporting, from
    metadata and sidecars alone, what :func:`agg_table_files_where` with
    the same arguments would read — ``blocks_meta_served`` counts the
    full-matching blocks whose count/sum/min/max fold from the stats row
    (zero payload), and ``payload_bytes`` is the exact decode bill of the
    rest (value blocks at predicate boundaries, plus full blocks of
    pre-``sum_val`` files).  A full-range aggregate on a ``sum_val``
    dataset reports ``payload_bytes = 0`` — the number that makes
    "SUM over 100 TB reads only stats rows" checkable."""
    value_cols = (
        list(value_col) if isinstance(value_col, (list, tuple))
        else [value_col]
    )
    for vc in value_cols:
        schema = _require_int_col(enc_dir, vc)
        _require_summable(schema, vc)
    specs = _norm_preds(schema, list(preds))
    worker = _make_agg_explain_worker(
        value_cols, specs, symbols_hex=_symbols_hex(enc_dir)
    )
    return _explain_totals(
        spark, _query_tasks(enc_dir), worker, AGG_EXPLAIN_SCHEMA,
        ["blocks_total", "blocks_pruned", "blocks_full", "blocks_partial",
         "blocks_meta_served", "rows_total", "payload_bytes"],
    )


def _explain_totals(spark: SparkSession, tasks: pd.DataFrame, worker,
                    part_schema: str, sum_cols: list[str]):
    """One EXPLAIN row: ``files`` then the per-task rows' ``sum_cols``
    totals.  ``files`` counts LIVE FILES (planner-known), not tasks — a
    compacted bin fans out to several segment tasks but is still one
    file."""
    files = int(tasks["file"].nunique()) if not tasks.empty else 0
    return _dispatch(
        spark, tasks, worker, part_schema,
        fold=lambda parts: _local_frame(
            spark,
            pd.DataFrame({
                "files": [files],
                **{c: [_summed(parts, c)] for c in sum_cols},
            }),
            ", ".join(f"{c} bigint" for c in ["files", *sum_cols]),
        ),
    )


def explain_scan_table_files(
    spark: SparkSession, enc_dir: str, preds,
    columns: list[str] | None = None,
):
    """EXPLAIN for the pruned scan: ONE row reporting, from metadata and
    dictionary sidecars alone (no payload byte is read anywhere in this
    plan), exactly what :func:`scan_table_files_where` with the same
    arguments would do — per-class block and row counts (pruned blocks
    are never fetched; full blocks skip predicate masking; partial blocks
    decode and mask) and the EXACT payload bytes phase 2 DECODES: the
    surviving blocks' recorded ``enc_bytes`` over predicate + projected
    columns, exact by wire invariant, classified with the same exact
    per-block tests the scan's phase 1 runs (shared ``_classify_file``
    machinery — IN-list literal membership included).  The
    operator-facing answer to "how much will this query read?" before
    committing a 100 TB scan.

    Honest granularity caveat: this is the decode bill, byte-exact; the
    parquet TRANSPORT serving it reads whole column-chunk pages of row
    groups containing >= 1 surviving block (one row group per segment
    after compaction), so wire-level bytes can exceed it on a segment
    that only partially survives.  On a zone-map-clustered predicate the
    two converge (segments survive or prune wholesale)."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    specs = _norm_preds(schema, list(preds))
    pred_cols = _spec_cols(specs)
    if columns is None:
        out_names = list(dict.fromkeys([schema["order_col"], *pred_cols]))
    else:
        out_names = _scan_out_names(schema, pred_cols[0], columns)
    worker = _make_explain_worker(
        specs, out_names, symbols_hex=_symbols_hex(enc_dir),
    )
    return _explain_totals(
        spark, _query_tasks(enc_dir), worker, EXPLAIN_SCHEMA,
        ["blocks_total", "blocks_pruned", "blocks_full", "blocks_partial",
         "rows_total", "rows_pruned", "rows_surviving", "payload_bytes"],
    )


def ndv_table_files(spark: SparkSession, enc_dir: str, col: str,
                    preds=None):
    """``SELECT count(DISTINCT col) [WHERE ...]`` pushed into the encoded
    format: one row ``(ndv, null_seen)`` — ``ndv`` counts distinct
    NON-NULL values among matching rows (SQL COUNT DISTINCT semantics)
    and ``null_seen`` is true iff a MATCHING row is NULL.

    A composition over :func:`distinct_table_files`, so it inherits the
    whole pushdown shape: string columns resolve from dictionary sidecars
    without a payload byte, int columns from codec-level distinct (run
    values / dictionary planes, never row expansion), predicates prune /
    full-match / mask blocks exactly as in the scan; the final count is a
    driver-side fold over the ≤ NDV × files shuffled distinct values."""
    df = distinct_table_files(spark, enc_dir, col, preds=preds)
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.col(col)).cast("bigint").alias("ndv"),
        (F.count(F.lit(1)) > F.count(F.col(col))).alias("null_seen"),
    )


STATS_PARTIAL_SCHEMA = (
    "col_name string, n_rows bigint, n_nulls bigint, "
    "min_int bigint, max_int bigint, sval string"
)


def _make_stats_worker(schema: dict, symbols_hex: tuple[str, ...] | None):
    """ANALYZE worker over one blocks file: per-column partials from
    METADATA alone.  Emits two row kinds on the shared partial schema —
    'meta' rows (``sval`` NULL) with the file's per-column row/NULL counts
    and the int zone-map min/max over blocks that hold at least one valid
    value (``n_runs > 0``; an all-NULL block's zone map is meaningless by
    construction), and 'dval' rows (counts NULL) carrying the file-local
    distinct valid values of each string column from its dictionary
    sidecars — and of each INDEXED int column from its membership keys,
    which gives those columns an exact metadata-only NDV too.  No payload
    column is ever read."""
    int_cols = set(schema["int_cols"])
    str_cols = list(schema["str_cols"])
    idx_cols = [c for c in schema.get("index_cols", ()) if c in int_cols]

    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg) -> pd.DataFrame:
        from rlv import blocks as B

        meta = _read_filtered(
            path,
            ["col_name", "n_values", "n_nulls", "n_runs", "min_val",
             "max_val"],
            seg=seg,
        ).to_pandas()
        out: dict[str, list] = {
            k: [] for k in ("col_name", "n_rows", "n_nulls",
                            "min_int", "max_int", "sval")
        }
        for cname, g in meta.groupby("col_name", sort=True):
            valid = g[g["n_runs"] > 0]
            has_zm = cname in int_cols and len(valid) > 0
            out["col_name"].append(cname)
            out["n_rows"].append(int(g["n_values"].sum()))
            out["n_nulls"].append(int(g["n_nulls"].sum()))
            out["min_int"].append(
                int(valid["min_val"].min()) if has_zm else None
            )
            out["max_int"].append(
                int(valid["max_val"].max()) if has_zm else None
            )
            out["sval"].append(None)
        for c in [*str_cols, *idx_cols]:
            vals: set[bytes] = set()
            for blob in _read_dict_sidecar(
                path, file_sid, col=c, seg=seg
            ).values():
                vals.update(
                    B.decode_strings_arrow(blob, symbols).to_pylist()
                )
            for v in sorted(vals):
                out["col_name"].append(c)
                out["n_rows"].append(None)
                out["n_nulls"].append(None)
                out["min_int"].append(None)
                out["max_int"].append(None)
                # index keys are 8-byte binary (not UTF-8): their
                # hex feeds the distinct COUNT only — min_str/
                # max_str stay NULL for int columns downstream
                out["sval"].append(
                    v.decode("utf-8") if c in str_cols
                    else v.hex()
                )
        return pd.DataFrame(
            {
                "col_name": pd.Series(out["col_name"], dtype=object),
                "n_rows": pd.array(out["n_rows"], dtype="Int64"),
                "n_nulls": pd.array(out["n_nulls"], dtype="Int64"),
                "min_int": pd.array(out["min_int"], dtype="Int64"),
                "max_int": pd.array(out["max_int"], dtype="Int64"),
                "sval": pd.Series(out["sval"], dtype=object),
            }
        )

    return _TaskOp(_planned_frame, phase1)


def stats_table_files(spark: SparkSession, enc_dir: str):
    """Metadata-only ANALYZE: one row per column with
    ``(col_name, n_rows, n_nulls, min_int, max_int, ndv, min_str,
    max_str)`` — exact, and served WITHOUT reading a single payload byte.
    Row/NULL counts sum the blocks' recorded ``n_values``/``n_nulls``; int
    min/max fold the zone maps over blocks holding >= 1 valid value; string
    NDV/min/max fold the dictionary sidecars (each block's sorted-distinct
    valid values).  Ints carry NULL ``ndv``/``min_str``/``max_str`` (their
    blocks store values, not dictionaries — exact int NDV would need a
    decode, like parquet statistics' optional distinct_count); strings carry
    NULL ``min_int``/``max_int`` (dense codes are per-block ranks).  An
    all-NULL string column reports ``ndv = 0`` with NULL min/max, SQL
    aggregate semantics.

    Scale shape: one task per blocks file emits per-column count partials
    plus its file-local string distincts; the only shuffle carries
    O(columns + NDV x files) partial rows, never data rows — the ANALYZE a
    warehouse runs as a full scan, here served by the format's own
    metadata."""
    from pyspark.sql import functions as F

    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    tasks = _query_tasks(enc_dir)
    str_cols = list(schema["str_cols"])
    out_schema = (
        "col_name string, logical_type string, n_rows bigint, "
        "n_nulls bigint, min_int bigint, max_int bigint, ndv bigint, "
        "min_str string, max_str string"
    )
    if tasks.empty:
        return spark.createDataFrame([], out_schema)
    part = _dispatch(
        spark, tasks, _make_stats_worker(schema, _symbols_hex(enc_dir)),
        STATS_PARTIAL_SCHEMA,
    )
    counts = (
        part.where(F.col("n_rows").isNotNull())
        .groupBy("col_name")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_nulls").alias("n_nulls"),
            F.min("min_int").alias("min_int"),
            F.max("max_int").alias("max_int"),
        )
    )
    dv = (
        part.where(F.col("sval").isNotNull())
        .groupBy("col_name")
        .agg(
            F.count_distinct("sval").alias("ndv"),
            F.min("sval").alias("min_str"),
            F.max("sval").alias("max_str"),
        )
    )
    res = counts.join(dv, "col_name", "left")
    # a string column that is entirely NULL yields no dval rows: its exact
    # NDV is 0, not unknown; INDEXED int columns get their exact NDV from
    # the membership keys (other int columns legitimately keep NULL ndv),
    # but their hex-key min/max are meaningless — NULLed below
    idx_cols = [
        c for c in schema.get("index_cols", ())
        if c in set(schema["int_cols"])
    ]
    ndv_cols = [*str_cols, *idx_cols]
    ndv = (
        F.when(
            F.col("col_name").isin(ndv_cols),
            F.coalesce(F.col("ndv"), F.lit(0)),
        ).otherwise(F.col("ndv"))
        if ndv_cols
        else F.col("ndv")
    )
    str_only = (
        F.when(F.col("col_name").isin(str_cols), F.col("min_str"))
        if str_cols else F.lit(None).cast("string")
    )
    str_only_max = (
        F.when(F.col("col_name").isin(str_cols), F.col("max_str"))
        if str_cols else F.lit(None).cast("string")
    )
    # logical type per column (the recorded alias — 'string', plain int
    # widths, timestamp/date epoch aliases, float total-order keys,
    # decN:double scaled ints) so min_int/max_int's UNITS are explicit:
    # epoch integers / float keys / scaled ints for typed columns
    types = schema.get("int_col_types") or {}
    lt = F.lit(None).cast("string")
    for c in [*schema["int_cols"], *str_cols]:
        alias = "string" if c in str_cols else types.get(c, "int64")
        lt = F.when(F.col("col_name") == c, F.lit(alias)).otherwise(lt)
    return res.select(
        "col_name",
        lt.alias("logical_type"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.col("min_int").cast("bigint").alias("min_int"),
        F.col("max_int").cast("bigint").alias("max_int"),
        ndv.cast("bigint").alias("ndv"),
        str_only.alias("min_str"),
        str_only_max.alias("max_str"),
    )


def _topk_survivors(
    nvalid: np.ndarray, n_runs: np.ndarray,
    mn: np.ndarray, mx: np.ndarray, k: int, ascending: bool,
    is_full: np.ndarray | None = None,
) -> np.ndarray:
    """Pure zone-map plan for a local top-k: boolean mask of block entries
    that can contribute to the k smallest (``ascending``) or largest valid
    values.  Sort live blocks by max_val (resp. min_val desc) and walk until
    the cumulative VALID count reaches k — that block's bound caps the k-th
    extreme value, so any block whose min_val exceeds it (resp. max_val
    falls below) holds only strictly-beaten values and prunes.  All-NULL
    blocks (``n_runs == 0``) never survive.

    Under a predicate conjunction (``is_full`` given) only FULL-matching
    blocks' valid counts are exact lower bounds on their contribution —
    partial blocks may match fewer rows — so the cumulative walk runs over
    full blocks alone, and the resulting bound prunes full AND partial
    blocks alike.  Too few full-block values to reach k → no valid bound →
    every live block survives (correctness over pruning)."""
    live = n_runs > 0
    full = live if is_full is None else (live & is_full)
    if not live.any() or int(nvalid[full].sum()) <= k:
        return live
    nv, lo_f, hi_f = nvalid[full], mn[full], mx[full]
    if ascending:
        o = np.argsort(hi_f, kind="stable")
        cum = np.cumsum(nv[o])
        bound = int(hi_f[o][int(np.searchsorted(cum, k))])
        keep = live & (mn <= bound)
    else:
        # descending sort via reversed ascending argsort: negating int64
        # would wrap at int64 min and mis-sort that block first
        o = np.argsort(lo_f, kind="stable")[::-1]
        cum = np.cumsum(nv[o])
        bound = int(lo_f[o][int(np.searchsorted(cum, k))])
        keep = live & (mx >= bound)
    return keep


def _str_bound_matcher(bound: bytes, ascending: bool):
    """One-sided dictionary matcher for the string top-k threshold:
    entries ``<= bound`` (ascending) or ``>= bound`` (descending),
    bytewise — UTF-8 byte order == code-point order."""
    def match(uniq) -> np.ndarray:
        import pyarrow as pa
        import pyarrow.compute as pc

        cmp = pc.less_equal if ascending else pc.greater_equal
        m = cmp(uniq, pa.scalar(bound, uniq.type))
        return np.flatnonzero(m.to_numpy(zero_copy_only=False))

    return match


def _make_topk_strs_worker(col: str, k: int, ascending: bool,
                           preds: list[dict] | None = None,
                           symbols_hex: tuple[str, ...] | None = None):
    """Threshold worker for STRING top-k over one blocks file: the k
    extreme DISTINCT values of ``col`` drawn from the dictionary sidecars
    of blocks the predicate conjunction FULL-matches — no payload byte,
    no code-stream decode.  Each sidecar entry appears in at least one
    valid row of its block, and every row of a full block matches the
    conjunction, so the k-th smallest (resp. largest) distinct value
    across files bounds the k-th extreme ROW value: at least k matching
    rows are at-or-inside it.  Partial blocks contribute nothing here
    (their matching row count may be zero) — when full blocks yield
    fewer than k distinct values the driver scans unbounded (correctness
    over pruning), mirroring :func:`_topk_survivors`."""
    preds = preds or []
    int_preds, mem_preds, or_nodes = _spec_parts(preds)
    pred_cols = _spec_cols(preds)
    all_cols = list(dict.fromkeys([col, *pred_cols]))

    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg):
        info, keys, cls, *_ = _classify_file(
            path, file_sid, seg, all_cols, int_preds,
            mem_preds, or_nodes, symbols,
        )
        return {kk for kk, kind in cls.items() if kind == "full"} or None

    def finish(path, file_sid, seg, plan) -> pd.DataFrame:
        from rlv import blocks as B

        if plan is None:
            return pd.DataFrame({"val": pd.Series([], dtype=object)})
        full_keys = plan
        side = _read_dict_sidecar(
            path, file_sid, col=col,
            block_idx=sorted({bi for _, bi in full_keys}),
            seg=seg,
        )
        vals: set[bytes] = set()
        for (sq, _, bi), blob in side.items():
            if (sq, int(bi)) not in full_keys:
                continue
            uniq = B.decode_strings_arrow(blob, symbols)
            # each dictionary is SORTED-distinct, so only its k
            # extreme entries can reach the task's top-k; the
            # periodic re-prune keeps the set O(k), not O(NDV)
            ent = uniq.to_pylist()
            vals.update(ent[:k] if ascending else ent[-k:])
            if len(vals) > 4 * k:
                vals = set(
                    sorted(vals)[:k] if ascending
                    else sorted(vals)[-k:]
                )
        ext = sorted(vals)[:k] if ascending \
            else sorted(vals)[-k:]
        return pd.DataFrame({
            "val": pd.Series(
                [v.decode("utf-8") for v in ext], dtype=object
            )
        })

    return _TaskOp(finish, phase1)


def _topk_table_files_str(
    spark: SparkSession, enc_dir: str, schema: dict, col: str, k: int,
    ascending: bool, columns: list[str] | None, preds,
):
    """String ORDER BY pushdown for :func:`topk_table_files` (dictionary
    columns): the threshold pass reads SIDECARS ONLY — each block's
    dictionary is its sorted-distinct valid values, so per-file candidate
    values come free of any payload decode — and the final pass is the
    existing membership-pruned scan with a one-sided string bound stacked
    onto the conjunction."""
    from pyspark.sql import functions as F

    specs = _norm_preds(schema, list(preds)) if preds else []
    out_names = _scan_out_names(schema, col, columns)
    tasks = _query_tasks(enc_dir)
    str_cols = set(schema["str_cols"])
    empty_schema = ", ".join(
        f"`{c}` {'string' if c in str_cols else _typed_field_type(schema, c)}"
        for c in out_names
    )
    if tasks.empty:
        return spark.createDataFrame([], empty_schema)
    cand = _dispatch(
        spark, tasks,
        _make_topk_strs_worker(
            col, int(k), ascending, preds=specs,
            symbols_hex=_symbols_hex(enc_dir),
        ),
        "val string",
    )
    cands = sorted(
        {r["val"] for r in cand.collect() if r["val"] is not None}
    )
    scan_names = (
        out_names if col in out_names else [*out_names, col]
    )
    bound_specs = list(specs)
    if len(cands) >= k:
        # the k-th extreme DISTINCT value bounds the k-th extreme row:
        # each candidate appears in >= 1 fully-matching row
        t = cands[k - 1] if ascending else cands[-k]
        bound_specs.append({
            "kind": "member", "col": col,
            "match": _str_bound_matcher(t.encode("utf-8"), ascending),
            "eq_single": None,
        })
    elif not specs:
        # fewer distinct values than k and no conjunction: every
        # non-NULL row competes (ORDER BY excludes NULLs via the
        # membership spec below — match-all keeps valid rows only)
        bound_specs.append({
            "kind": "member", "col": col,
            "match": _str_prefix_matcher(b""), "eq_single": None,
        })
    else:
        # under a conjunction the scan must still drop NULLs of col
        bound_specs.extend(_norm_preds(schema, [("notnull", col)]))
    worker = _make_scan_worker(
        schema, bound_specs, scan_names,
        symbols_hex=_symbols_hex(enc_dir),
    )
    scan = _run_scan_tasks(spark, enc_dir, schema, scan_names, worker)
    sort_cols = [F.col(col).asc() if ascending else F.col(col).desc()]
    order_col = schema["order_col"]
    if order_col in out_names and order_col != col:
        sort_cols.append(F.col(order_col).asc())
    return scan.orderBy(*sort_cols).limit(k).select(*out_names)


def _make_topk_vals_worker(col: str, k: int, ascending: bool,
                           preds: list[dict] | None = None,
                           symbols_hex: tuple[str, ...] | None = None):
    """Threshold worker over one blocks file: the file's k extreme VALID
    values of ``col`` among rows matching the predicate conjunction
    (``preds`` empty/None = all rows), decoding only blocks the zone-map
    plan keeps.  Blocks any predicate prunes never contribute; the top-k
    bound comes from FULL-matching blocks' exact counts
    (:func:`_topk_survivors` with ``is_full``); surviving partial blocks
    decode their non-full predicates and mask before contributing."""
    preds = preds or []
    int_preds, mem_preds, or_nodes = _spec_parts(preds)
    pred_cols = _spec_cols(preds)
    all_cols = list(dict.fromkeys([col, *pred_cols]))

    symbols = _symbol_list(symbols_hex)

    def phase1(path, file_sid, seg):
        info, keys, cls, pred_cls, mem_codes, mem_full, \
            or_data, _, _ = _classify_file(
                path, file_sid, seg, all_cols, int_preds,
                mem_preds, or_nodes, symbols,
            )
        if not cls:
            return None
        # zone-map plan over pred-surviving blocks: full blocks'
        # exact counts set the bound, the bound prunes everything
        ordered = sorted(cls)
        stats = np.array(
            [info[col][kk] for kk in ordered], np.int64
        ).reshape(len(ordered), 5)
        keep = _topk_survivors(
            stats[:, 0] - stats[:, 1],  # valid values of col
            stats[:, 2], stats[:, 3], stats[:, 4],
            k, ascending,
            is_full=np.array(
                [cls[kk] == "full" for kk in ordered], bool
            ),
        )
        surv = [kk for kk, kp in zip(ordered, keep) if kp]
        if not surv:
            return None
        # payload fetch: col blocks for survivors; pred blocks only
        # for surviving partial keys where that pred is not full
        need: dict[str, set[int]] = {
            col: {bi for _, bi in surv}
        }
        for key in surv:
            if cls[key] != "partial":
                continue
            for c in _pred_need_cols(key, pred_cls, int_preds,
                                     mem_preds, or_nodes, or_data):
                need.setdefault(c, set()).add(key[1])
        return info, cls, pred_cls, mem_codes, mem_full, or_data, surv, need

    def finish(path, file_sid, seg, plan) -> pd.DataFrame:
        from rlv import blocks as B

        if plan is None:
            return pd.DataFrame({"val": np.empty(0, np.int64)})
        info, cls, pred_cls, mem_codes, mem_full, or_data, surv, need = plan
        blobs = _fetch_payloads(path, file_sid, seg, need)
        for key in surv:
            if (key[0], col, key[1]) not in blobs:
                raise ValueError(
                    f"column {col!r} is missing block {key[1]} of "
                    f"segment {key[0]} — corrupt dataset"
                )
        parts: list[np.ndarray] = []
        # FULL survivors (the common no-predicate case) decode as
        # ONE batch call — per-block dispatch overhead amortizes
        full_keys = [kk for kk in surv if cls[kk] == "full"]
        if full_keys:
            fvals, foffs, fvalid = B.decode_blocks_batch_nullable(
                [blobs[(sq, col, bi)] for sq, bi in full_keys],
                np.int64,
                expected=[info[col][kk][0] for kk in full_keys],
            )
            parts.append(fvals[fvalid])
        for key in surv:
            if cls[key] != "partial":
                continue
            seq, bi = key
            nv = info[col][key][0]
            decoded: dict[str, tuple] = {}

            def _dec(c, seq=seq, bi=bi, nv=nv, decoded=decoded):
                if c not in decoded:
                    decoded[c] = B.decode_blocks_batch_nullable(
                        [blobs[(seq, c, bi)]], np.int64,
                        expected=[nv],
                    )
                return decoded[c]

            vals, _, valid = _dec(col)
            mask = _pred_mask(
                key, nv, pred_cls, int_preds, mem_preds,
                mem_codes, mem_full, _dec, or_nodes, or_data,
            )
            parts.append(vals[mask & valid])
        vv = np.concatenate(parts) if parts else np.empty(
            0, np.int64
        )
        if vv.size > k:
            vv = (
                np.partition(vv, k - 1)[:k] if ascending
                else np.partition(vv, vv.size - k)[vv.size - k:]
            )
        return pd.DataFrame({"val": vv.astype(np.int64)})

    return _TaskOp(finish, phase1, _plan_bill)


def topk_table_files(
    spark: SparkSession, enc_dir: str, col: str, k: int,
    ascending: bool = True, columns: list[str] | None = None,
    preds=None,
):
    """TOP-K pushdown into the encoded format: the k rows with the smallest
    (``ascending``) or largest valid values of ``col`` (NULLs excluded,
    SQL ``WHERE col IS NOT NULL ORDER BY col LIMIT k``), projected like
    :func:`scan_table_files`.  ``col`` may be an int-plane column (zone-map
    threshold pass below) or a dictionary STRING column
    (:func:`_topk_table_files_str`: candidates from the sorted-distinct
    sidecars alone, threshold as a one-sided string bound, final pass the
    membership-pruned scan — binary collation, as everywhere).  When the dataset's order column is in
    the projection it tie-breaks equal values ascending, making the selected
    row SET deterministic (``ORDER BY col, order_col LIMIT k``); without it,
    ties at the boundary are arbitrary, as in SQL.

    Two pruned passes, no full sort anywhere: (1) a threshold job — one task
    per blocks file computes the file's k extreme values, decoding only
    blocks its zone-map plan keeps (:func:`_topk_survivors`: walk blocks by
    max_val until cumulative valid count reaches k; blocks beyond that bound
    hold only beaten values) — and the global k-th extreme T folds from the
    ≤ k·files collected candidates; (2) the existing pruned projection scan
    with predicate ``col <= T`` (resp. ``>= T``), whose block skipping makes
    the data read O(k-selectivity) on clustered columns, followed by
    Spark's TakeOrdered over the surviving sliver.  The shuffle never
    carries more than k·files candidate values plus the boundary rows.

    ``preds`` restricts the ranking to rows matching a CONJUNCTION of the
    same five predicate kinds :func:`scan_table_files_where` takes (SQL
    ``WHERE ... AND col IS NOT NULL ORDER BY col LIMIT k``): the threshold
    pass bounds from FULL-matching blocks' exact counts and masks partial
    blocks, and the final pass stacks ``col <= T`` onto the conjunction."""
    from pyspark.sql import functions as F

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    schema = _load_table_schema(enc_dir)
    if schema is not None and col in schema["str_cols"]:
        # string ORDER BY rides the dictionary sidecars (sorted-distinct
        # per block): candidates are sidecar-only, the threshold is a
        # string bound, the final pass the membership-pruned scan
        return _topk_table_files_str(
            spark, enc_dir, schema, col, int(k), ascending, columns,
            preds,
        )
    schema = _require_int_col(enc_dir, col)
    specs = _norm_preds(schema, list(preds)) if preds else []
    out_names = _scan_out_names(schema, col, columns)
    tasks = _query_tasks(enc_dir)
    empty_schema = ", ".join(
        f"`{c}` {_typed_field_type(schema, c)}" for c in out_names
    )
    if tasks.empty:
        return spark.createDataFrame([], empty_schema)

    def kth_extreme(parts):
        vals = np.sort(np.concatenate(
            [p["val"].to_numpy(np.int64) for p in parts]
        ))
        if not vals.size:
            return None
        return int(vals[min(k, vals.size) - 1] if ascending
                   else vals[-min(k, vals.size)])

    t = _dispatch(
        spark, tasks,
        _make_topk_vals_worker(
            col, int(k), ascending, preds=specs,
            symbols_hex=_symbols_hex(enc_dir),
        ),
        "val bigint",
        fold=kth_extreme,
    )
    if t is None:
        return spark.createDataFrame([], empty_schema)
    lo, hi = (-(2**63), t) if ascending else (t, 2**63 - 1)
    # the sort column rides along even when the caller's projection omits
    # it (orderBy needs it resolved), then drops before returning
    scan_names = (
        out_names if col in out_names else [*out_names, col]
    )
    # the threshold is a PLANE KEY (the candidate pass runs in key space),
    # so it stacks as the internal raw_between — identical to between on a
    # plain-int column, literal-conversion-free on typed columns
    scan = scan_table_files_where(
        spark, enc_dir,
        [*(list(preds) if preds else []), ("raw_between", col, lo, hi)],
        columns=scan_names,
    )
    sort_cols = [F.col(col).asc() if ascending else F.col(col).desc()]
    order_col = schema["order_col"]
    if order_col in out_names and order_col != col:
        sort_cols.append(F.col(order_col).asc())
    return scan.orderBy(*sort_cols).limit(k).select(*out_names)
