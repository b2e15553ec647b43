"""The workloads: inputs, set-up, operations with their checks, and the
per-layer probes of a traced run.

Every call into rlv that an operation makes runs inside a span named
``<rlv module>.<function>``; Spark actions on the returned DataFrames run
inside ``session.<action>`` spans, because they are where the query
operators' dispatch and worker work happen.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np

from perfbench import inputs as I

CODEC_DOC_NAMES = ("empty", "plain", "rle", "bitpack", "for", "dict", "delta")
SELECTIVE_KINDS = ("count_range", "scan_str_eq", "agg_conj", "minmax_range")
SCAN_KINDS = ("scan_full", "group_by", "topk_100", "join_dim")
QUERY_KIND_FIELDS = (
    ("wall_s", "s"), ("explain_s", "s"), ("exec_s", "s"),
    ("classify_driver_s", "s"), ("blocks_total", "count"),
    ("blocks_pruned", "count"), ("blocks_full", "count"),
    ("blocks_partial", "count"), ("rows_surviving", "count"),
    ("payload_bytes", "B"), ("row_yield", "ratio"),
)
TRACE_LAYERS = ("session", "engine_files", "table_files", "unaccounted")
PROBE_REPEATS = 2


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``.  Each traced run reports
    all of them; a layer that a workload does not exercise reads 0."""
    out = [
        ("session.start_s", "s"),
        ("session.cold_start_s", "s"),
        (f"session.dispatch_floor_s.{I.ENCODE_TASKS}", "s"),
        (f"session.dispatch_floor_s.{I.QUERY_TASKS}", "s"),
        ("engine_files.plan_s", "s"),
        ("engine_files.splits", "count"),
        ("engine_files.split_bytes_imbalance", "ratio"),
        ("engine_files.encode_job_s", "s"),
        ("engine_files.verify_job_s", "s"),
        ("engine_files.split_cpu_s_sum", "s"),
        ("engine_files.split_cpu_s_max", "s"),
        ("engine_files.split_cpu_imbalance", "ratio"),
        ("engine_files.overhead_s", "s"),
        ("engine_files.file_bytes_per_token", "B/token"),
        ("selector.select_ns_per_token", "ns/token"),
        ("blocks.encode_ns_per_token", "ns/token"),
        ("blocks.decode_ns_per_token", "ns/token"),
        *[(f"blocks.codec_docs.{c}", "count") for c in CODEC_DOC_NAMES],
        ("kernels.runs_per_token", "ratio"),
        ("table_files.tasks", "count"),
        ("blocks.decode_ns_per_value", "ns/value"),
        ("table_files.join_dim.broadcast", "bool"),
        ("table_files.join_dim.runtime_filter_keys", "count"),
    ]
    for kind in SELECTIVE_KINDS + SCAN_KINDS:
        out += [(f"table_files.{kind}.{f}", u) for f, u in QUERY_KIND_FIELDS]
    out += [
        ("trace.latency_p50_s", "s"),
        ("trace.untraced_latency_p50_s", "s"),
        ("trace.overhead_s", "s"),
        *[(f"trace.self_s.{layer}", "s") for layer in TRACE_LAYERS],
    ]
    return out


@dataclass
class Op:
    """One operation kind: ``run(entry)`` returns the answer, ``check``
    compares it with the entry's oracle."""

    kind: str
    entries: list[dict]
    run: Callable[[dict], object]
    check: Callable[[object, dict], bool]


def p50(by_kind: dict[str, list[float]]) -> float:
    """Median operation wall of a mix: the median, over the op kinds, of
    each kind's median wall.  A round runs one op of each kind, so this
    weighs kinds as the mix does; unlike the median of the pooled samples it
    does not jump between the walls of two kinds when the kinds' latencies
    differ.  With one kind it is the plain median."""
    return statistics.median(statistics.median(v) for v in by_kind.values())


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _timed_median(fn, repeats: int = PROBE_REPEATS) -> tuple[float, object]:
    times, res = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        res = fn()
        times.append(time.perf_counter() - t0)
    return _median(times), res


def dispatch_floor(spark, n: int) -> float:
    """Median wall of an identity ``mapInPandas`` over ``n`` task rows,
    built the way the query operators build their task frames
    (``createDataFrame`` -> ``repartition(n)`` -> ``mapInPandas`` ->
    ``collect``)."""
    schema = "file string, segment string"

    def identity(it):
        yield from it

    def once():
        rows = spark.createDataFrame(
            [(f"task-{i}", None) for i in range(n)], schema
        ).repartition(n).mapInPandas(identity, schema).collect()
        if len(rows) != n:
            raise RuntimeError(f"dispatch floor returned {len(rows)} rows")

    return _timed_median(once)[0]


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.sizes: dict = {}
        self.errors: list[str] = []

    def prepare(self) -> None:
        """Generate inputs and oracles (not part of set-up time)."""

    def setup(self, spark, rep: int) -> None:
        """Per-repetition set-up work after the session starts."""

    def ops(self, spark) -> list[Op]:
        raise NotImplementedError

    def begin_loop(self) -> None:
        """Drop what set-up and warm-up operations recorded."""

    def before_op(self, entry: dict) -> None:
        """Bookkeeping before an operation, outside the timed region."""

    def after_op(self) -> None:
        """Bookkeeping after an operation, outside the timed region."""

    def bytes_per_unit(self) -> float:
        raise NotImplementedError

    def report(self, samples: dict[str, list[float]]
               ) -> list[tuple[str, float, str]]:
        """Workload-specific end-to-end figures for the printed report."""
        return []

    def probes(self, spark, samples: dict[str, list[float]]) -> dict:
        """Per-layer metrics of a traced run (``samples``: walls by kind)."""
        return {}


class EncodeTokens(Workload):
    """Write path plus read-back: ``encode_files_dataset`` into a fresh
    directory, then ``verify_files_dataset`` on the result."""

    name = "encode_tokens"

    def prepare(self) -> None:
        self.tok_dir = os.path.join(self.work, "tokens")
        self.tok = I.token_table(self.seed, self.tok_dir, self.tr)
        self.sizes = {"docs": self.tok["docs"], "tokens": self.tok["tokens"],
                      "input_files": self.tok["files"]}
        self.first_bytes_out = None
        self.n_op = 0
        self.out_dir = None
        self.begin_loop()

    def _fresh_out(self) -> str:
        if self.out_dir is not None:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        self.out_dir = os.path.join(self.work, f"enc-{self.n_op}")
        self.n_op += 1
        return self.out_dir

    def ops(self, spark) -> list[Op]:
        from rlv import engine_files as EF

        def run(entry):
            out = entry["out"]
            t0 = time.perf_counter()
            enc = self.tr.call(
                "engine_files.encode_files_dataset", EF.encode_files_dataset,
                spark, self.tok_dir, out, num_tasks=I.ENCODE_TASKS,
                resume=False)
            t1 = time.perf_counter()
            ver = self.tr.call(
                "engine_files.verify_files_dataset", EF.verify_files_dataset,
                spark, self.tok_dir, out)
            t2 = time.perf_counter()
            self.job_s["encode"].append(t1 - t0)
            self.job_s["verify"].append(t2 - t1)
            return enc, ver

        def check(res, entry):
            enc, ver = res
            if self.first_bytes_out is None:
                self.first_bytes_out = enc["bytes_out"]
                self.sizes.update(bytes_out=enc["bytes_out"],
                                  naive_rle_bytes=enc["naive_rle_bytes"],
                                  splits=enc["splits_encoded"])
            return (ver["mismatches"] == 0
                    and enc["bytes_out"] <= enc["naive_rle_bytes"]
                    and enc["tokens"] == self.tok["tokens"]
                    and ver["tokens"] == self.tok["tokens"]
                    and enc["bytes_out"] == self.first_bytes_out)

        return [Op("encode_verify", [{}], run, check)]

    def begin_loop(self) -> None:
        self.job_s = {"encode": [], "verify": []}
        self.manifests = []

    def before_op(self, entry: dict) -> None:
        entry["out"] = self._fresh_out()

    def after_op(self) -> None:
        from rlv import engine_files as EF

        live = EF.live_splits(self.out_dir)
        if live is not None:
            self.manifests.append(live)

    def bytes_per_unit(self) -> float:
        return self.sizes["bytes_out"] / self.sizes["tokens"]

    def report(self, samples):
        tok = self.sizes["tokens"]
        return [
            ("encode_tokens_per_s", tok / _median(self.job_s["encode"]),
             "tokens/s"),
            ("verify_tokens_per_s", tok / _median(self.job_s["verify"]),
             "tokens/s"),
            ("bytes_per_token", self.bytes_per_unit(), "B"),
        ]

    def probes(self, spark, samples) -> dict:
        from rlv import blocks, engine_files as EF, selector, stats

        m: dict[str, float] = {}
        plan_s, plan = _timed_median(
            lambda: EF.plan_splits(self.tok_dir, I.ENCODE_TASKS))
        loads = [s["bytes"] for s in plan]
        m["engine_files.plan_s"] = plan_s
        m["engine_files.splits"] = len(plan)
        m["engine_files.split_bytes_imbalance"] = max(loads) / np.mean(loads)
        m["engine_files.encode_job_s"] = _median(self.job_s["encode"])
        m["engine_files.verify_job_s"] = _median(self.job_s["verify"])
        cpu = [mf["encode_cpu_ns"].to_numpy() / 1e9 for mf in self.manifests]
        m["engine_files.split_cpu_s_sum"] = _median([c.sum() for c in cpu])
        m["engine_files.split_cpu_s_max"] = _median([c.max() for c in cpu])
        m["engine_files.split_cpu_imbalance"] = _median(
            [c.max() / c.mean() for c in cpu])
        m["engine_files.overhead_s"] = (
            m["engine_files.encode_job_s"] - plan_s
            - m["engine_files.split_cpu_s_max"])
        hist: dict[str, int] = {}
        for h in self.manifests[-1]["codec_hist"]:
            for cid, n in json.loads(h).items():
                name = blocks.CODEC_NAMES[int(cid)]
                hist[name] = hist.get(name, 0) + n
        for c in CODEC_DOC_NAMES:
            m[f"blocks.codec_docs.{c}"] = hist.get(c, 0)
        unknown = set(hist) - set(CODEC_DOC_NAMES)
        if unknown:
            self.errors.append(f"codec_hist has unlisted codecs {unknown}")
        m["kernels.runs_per_token"] = self.tok["runs"] / self.tok["tokens"]
        bdir = os.path.join(self.out_dir, "blocks")
        m["engine_files.file_bytes_per_token"] = sum(
            os.path.getsize(os.path.join(bdir, f)) for f in os.listdir(bdir)
        ) / self.tok["tokens"]

        # driver replay of the per-document kernel path over the sample
        docs = [a for a in self.tok["sample"] if a.size]
        n_tok = sum(a.size for a in docs)
        t_sel = t_enc = t_dec = 0
        for a in docs:
            t0 = time.perf_counter_ns()
            codec, size = selector.choose_codec(stats.chunk_stats(a))
            t1 = time.perf_counter_ns()
            blk = blocks.encode_with(codec, a)
            t2 = time.perf_counter_ns()
            back = blocks.decode_block(blk)
            t3 = time.perf_counter_ns()
            t_sel += t1 - t0
            t_enc += t2 - t1
            t_dec += t3 - t2
            if len(blk) != size or not np.array_equal(back, a):
                self.errors.append("kernel replay: block not exact")
        m["selector.select_ns_per_token"] = t_sel / n_tok
        m["blocks.encode_ns_per_token"] = t_enc / n_tok
        m["blocks.decode_ns_per_token"] = t_dec / n_tok
        return m


def _collect(tr, fn, *args, **kwargs):
    """Run an rlv operator and collect its DataFrame, in two spans."""
    df = tr.call(f"table_files.{fn.__name__}", fn, *args, **kwargs)
    return tr.call("session.collect", df.collect)


def _count(tr, fn, *args, **kwargs):
    df = tr.call(f"table_files.{fn.__name__}", fn, *args, **kwargs)
    return tr.call("session.count", df.count)


def _agg_tuple(r) -> tuple:
    return (r["n_rows"], r["n_vals"],
            None if r["sum_val"] is None else int(r["sum_val"]),
            r["min_val"], r["max_val"])


class Query(Workload):
    """The query layer over one table-plane table: selective ops (each
    reads at most ~2% of the blocks) alternate with scan ops (each decodes
    most blocks).  The query and dim tables are encoded through
    ``table_files.encode_table_files`` on every set-up repetition."""

    name = "query"
    # light and heavy kinds alternate within a round
    kinds = tuple(k for pair in zip(SELECTIVE_KINDS, SCAN_KINDS) for k in pair)

    def prepare(self) -> None:
        self.q = I.query_tables(self.seed, os.path.join(self.work, "src"),
                                os.path.join(self.work, "dim.parquet"))
        con = I.oracle(os.path.join(self.work, "src"), self.q["dim_path"])
        try:
            self.pool = {**I.selective_pool(self.seed, self.q, con),
                         **I.scan_pool(self.seed, self.q, con)}
        finally:
            con.close()
        self.enc = None
        self.enc_dir = self.dim_dir = None
        self.join_plan: dict = {}
        self.sizes = {"rows": self.q["rows"], "input_files": I.REPLICAS,
                      "dim_rows": self.q["dim_rows"]}

    def setup(self, spark, rep: int) -> None:
        from rlv import table_files as TF

        for d in (self.enc_dir, self.dim_dir):
            if d is not None:
                shutil.rmtree(d, ignore_errors=True)
        self.enc_dir = os.path.join(self.work, f"qenc-{rep}")
        self.dim_dir = os.path.join(self.work, f"dim-{rep}")
        enc = self.tr.call(
            "table_files.encode_table_files", TF.encode_table_files,
            spark, self.q["files"], self.enc_dir, order_col="k",
            int_cols=["k", "cents", "custkey_n"],
            str_cols=["pri_n", "clerk"], rows_per_block=I.ROWS_PER_BLOCK,
            num_tasks=I.QUERY_TASKS)
        self.tr.call(
            "table_files.encode_table_files", TF.encode_table_files,
            spark, [self.q["dim_path"]], self.dim_dir, order_col="custkey_n",
            int_cols=["custkey_n", "seg"], rows_per_block=I.ROWS_PER_BLOCK,
            num_tasks=1)
        if enc["bytes_out"] > enc["naive_rle_bytes"]:
            self.errors.append("query table: bytes_out > naive_rle_bytes")
        if self.enc is not None and (
                enc["bytes_out"], enc["dict_bytes"]) != (
                self.enc["bytes_out"], self.enc["dict_bytes"]):
            self.errors.append("query table: encode is not byte-deterministic")
        self.enc = enc
        self.sizes.update(bytes_out=enc["bytes_out"],
                          dict_bytes=enc["dict_bytes"],
                          naive_rle_bytes=enc["naive_rle_bytes"])

    def bytes_per_unit(self) -> float:
        enc = self.enc
        return (enc["bytes_out"] + enc["dict_bytes"]) / self.q["rows"]

    def report(self, samples):
        return [
            ("table_bytes_per_row", self.bytes_per_unit(), "B"),
            ("selective_latency_p50_s",
             p50({k: samples[k] for k in SELECTIVE_KINDS}), "s"),
            ("scan_latency_p50_s",
             p50({k: samples[k] for k in SCAN_KINDS}), "s"),
        ]

    def ops(self, spark) -> list[Op]:
        from pyspark.sql import functions as F

        from rlv import table_files as TF

        tr, enc = self.tr, self.enc_dir

        def k_range(e):
            return [("between", "k", e["lo"], e["hi"])]

        def group_by(e):
            rows = _collect(tr, TF.agg_table_files_by, spark, enc, "cents",
                            "pri_n", preds=k_range(e))
            got = [(r[0], *_agg_tuple(r)) for r in rows]
            return sorted(got, key=lambda r: (r[0] is None, r[0] or ""))

        def topk_100(e):
            rows = _collect(tr, TF.topk_table_files, spark, enc, "cents", 100,
                            ascending=False, columns=["k", "cents"])
            return sorted(((r["cents"], r["k"]) for r in rows),
                          key=lambda t: (-t[0], t[1]))

        def join_dim(e):
            df, plan = tr.call(
                "table_files.join_table_files", TF.join_table_files, spark,
                enc, self.dim_dir, on="custkey_n", columns_a=["k", "cents"],
                columns_b=["seg"], return_plan=True)
            self.join_plan = plan
            r = tr.call("session.collect", lambda: df.agg(
                F.count(F.lit(1)), F.sum("cents"), F.sum("seg")).collect())[0]
            return (r[0], r[1], r[2])

        fns = {
            "count_range": lambda e: _collect(
                tr, TF.count_table_files_where, spark, enc, k_range(e)
            )[0]["n_rows"],
            "scan_str_eq": lambda e: _count(
                tr, TF.scan_table_files_eq, spark, enc, "clerk", e["lit"],
                columns=["k", "clerk"]),
            "agg_conj": lambda e: _agg_tuple(_collect(
                tr, TF.agg_table_files_where, spark, enc, "cents",
                k_range(e) + [("in", "pri_n", e["pris"])])[0]),
            "minmax_range": lambda e: tuple(_collect(
                tr, TF.minmax_table_files_where, spark, enc, "cents",
                k_range(e))[0]),
            "scan_full": lambda e: _count(
                tr, TF.scan_table_files, spark, enc, "k", e["lo"], e["hi"],
                columns=["k", "cents"]),
            "group_by": group_by,
            "topk_100": topk_100,
            "join_dim": join_dim,
        }

        def same(got, e):
            want = e["want"]
            if isinstance(want, list):
                want = [tuple(w) for w in want]
            return got == want

        return [Op(k, self.pool[k], fns[k], same) for k in self.kinds]

    # -- per-layer probes ---------------------------------------------------

    def _explain_scan(self, spark, preds, columns):
        from rlv import table_files as TF

        return _timed_median(lambda: TF.explain_scan_table_files(
            spark, self.enc_dir, preds, columns=columns
        ).collect()[0].asDict())

    def _explain_agg(self, spark, value_col, preds):
        """Aggregate EXPLAIN (timed) plus the scan EXPLAIN's rows_surviving,
        which the aggregate bill does not carry."""
        from rlv import table_files as TF

        t, row = _timed_median(lambda: TF.explain_agg_table_files(
            spark, self.enc_dir, value_col, preds).collect()[0].asDict())
        row["rows_surviving"] = TF.explain_scan_table_files(
            spark, self.enc_dir, preds, columns=[value_col]
        ).collect()[0]["rows_surviving"]
        return t, row

    def _zonemap(self, col, lo, hi) -> float:
        from rlv import table_files as TF

        return _timed_median(
            lambda: TF.zonemap_stats(self.enc_dir, col, lo, hi))[0]

    def bill(self, spark, kind: str, e: dict) -> tuple[float, dict, float]:
        """(explain wall, EXPLAIN bill, driver classify wall) of one op."""
        from rlv import table_files as TF

        k_range = [("between", "k", e.get("lo"), e.get("hi"))]
        if kind == "scan_str_eq":
            t, row = self._explain_scan(spark, [("eq", "clerk", e["lit"])],
                                        ["k", "clerk"])
            return t, row, _timed_median(
                lambda: TF.strdict_stats(self.enc_dir, "clerk", e["lit"]))[0]
        if kind == "topk_100":
            # the bill of the final pass: the pruned scan above the k-th value
            t, row = self._explain_scan(
                spark, [("between", "cents", e["threshold"], 1 << 62)],
                ["k", "cents"])
            return t, row, self._zonemap("cents", e["threshold"], 1 << 62)
        if kind == "join_dim":
            # the fact side's scan under the runtime filter
            t, row = self._explain_scan(
                spark, [("int_in", "custkey_n", e["dim_keys"])],
                ["k", "cents", "custkey_n"])
            return t, row, 0.0
        if kind == "count_range":
            t, row = self._explain_scan(spark, k_range, ["k"])
        elif kind == "agg_conj":
            t, row = self._explain_agg(
                spark, "cents", k_range + [("in", "pri_n", e["pris"])])
        elif kind == "minmax_range":
            t, row = self._explain_agg(spark, "cents", k_range)
        else:  # scan_full, group_by
            cols = {"scan_full": ["k", "cents"],
                    "group_by": ["cents", "pri_n"]}[kind]
            t, row = self._explain_scan(spark, k_range, cols)
        return t, row, self._zonemap("k", e["lo"], e["hi"])

    @staticmethod
    def useful_rows(kind: str, e: dict) -> int:
        """Rows the answer covers, from the oracle."""
        if kind == "agg_conj":
            return e["want"][0]
        if kind in ("minmax_range", "group_by"):
            return e["matched"]
        if kind == "topk_100":
            return len(e["want"])
        if kind == "join_dim":
            return e["want"][0]
        return e["want"]

    def probes(self, spark, samples) -> dict:
        from rlv import engine_files as EF

        m: dict[str, float] = {}
        for kind in self.kinds:
            entry = self.pool[kind][0]
            explain_s, row, classify_s = self.bill(spark, kind, entry)
            wall = _median(samples[kind])
            p = f"table_files.{kind}."
            m[p + "wall_s"] = wall
            m[p + "explain_s"] = explain_s
            m[p + "exec_s"] = wall - explain_s
            m[p + "classify_driver_s"] = classify_s
            for f in ("blocks_total", "blocks_pruned", "blocks_full",
                      "blocks_partial", "rows_surviving", "payload_bytes"):
                m[p + f] = int(row[f])
            m[p + "row_yield"] = (self.useful_rows(kind, entry)
                                  / max(1, int(row["rows_surviving"])))
        live = EF.live_splits(self.enc_dir)
        m["table_files.tasks"] = sum(
            max(1, len(p)) if isinstance(p, dict) else 1
            for p in (json.loads(x or "null") for x in live["pieces"]))
        m["blocks.decode_ns_per_value"] = self._decode_replay()
        m["table_files.join_dim.broadcast"] = int(
            bool(self.join_plan.get("broadcast")))
        m["table_files.join_dim.runtime_filter_keys"] = int(
            self.join_plan.get("runtime_filter_keys") or 0)
        return m

    def _decode_replay(self) -> float:
        """``blocks.decode_blocks_batch`` over a seeded sample of the query
        table's non-nullable int blocks, in the driver."""
        import pyarrow.parquet as pq

        from rlv import blocks

        bdir = os.path.join(self.enc_dir, "blocks")
        parts = [pq.read_table(os.path.join(bdir, f),
                               columns=["col_name", "n_values", "block"],
                               filters=[("col_name", "in", ["k", "cents"])])
                 for f in sorted(os.listdir(bdir))]
        rng = np.random.default_rng([self.seed, 5])
        blobs, want = [], []
        for t in parts:
            idx = rng.choice(len(t), size=min(16, len(t)), replace=False)
            col = t.column("block")
            nv = t.column("n_values")
            for i in sorted(idx):
                blobs.append(col[int(i)].as_py())
                want.append(nv[int(i)].as_py())
        times = []
        for _ in range(PROBE_REPEATS):
            t0 = time.perf_counter_ns()
            flat, offs = blocks.decode_blocks_batch(blobs, dtype=np.int64,
                                                    expected=want)
            times.append(time.perf_counter_ns() - t0)
        if int(offs[-1]) != sum(want):
            self.errors.append("decode replay: value count differs")
        return _median(times) / sum(want)


WORKLOADS = {w.name: w for w in (EncodeTokens, Query)}
