"""In-memory span tracing for the benchmark, and the reader of its output.

A span records its name, start, end, parent and the trace id of the
operation it belongs to.  Spans live in memory and are written out once, as
JSON, when the run ends.  The benchmark opens spans only around its own
calls into rlv modules; the layer of a span is the part of its name before
the first dot (``table_files.count_table_files_where`` -> ``table_files``).
An operation's root span is named ``op.<kind>``; its self time is the
operation wall that no child span covers, reported as ``unaccounted``.

Reader usage::

    python3 perfbench/tracing.py perfbench/.work/results/trace-*.json

prints the per-layer self time of each workload and checks, for every
traced operation, that the child spans plus the unaccounted remainder sum to
the operation's wall time.  It exits 1 if a check fails.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
from collections import defaultdict

ROOT_PREFIX = "op."
SETUP_PREFIX = "setup."
UNACCOUNTED = "unaccounted"


class Tracer:
    """Collects spans of one run.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace_id: int | None = None
        self._next_trace = 0

    @contextlib.contextmanager
    def trace(self, root_name: str):
        """Open a new trace whose root span is ``root_name``."""
        if not self.enabled:
            yield
            return
        if self._stack:
            raise RuntimeError("a trace is already open")
        self._trace_id = self._next_trace
        self._next_trace += 1
        try:
            with self.span(root_name):
                yield
        finally:
            self._trace_id = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or self._trace_id is None:
            yield
            return
        span_id = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"trace": self._trace_id, "id": span_id, "parent": parent,
               "name": name, "start_ns": time.perf_counter_ns(),
               "end_ns": None}
        self.spans.append(rec)
        self._stack.append(span_id)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_ns"] = time.perf_counter_ns()

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span called ``name``."""
        with self.span(name):
            return fn(*args, **kwargs)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({**meta, "spans": self.spans}, f)


def layer_of(name: str) -> str:
    if name.startswith(ROOT_PREFIX) or name.startswith(SETUP_PREFIX):
        return UNACCOUNTED
    return name.split(".", 1)[0]


def _union_ns(intervals: list[tuple[int, int]]) -> int:
    total = 0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def analyze(spans: list[dict]) -> list[dict]:
    """Per trace: root name, wall, per-layer self time and the accounting
    check.  Self time of a span = its duration minus the union of its
    children's intervals.  The check holds when every child lies inside its
    parent, so that the self times of all spans of a trace sum exactly to
    the root span's wall."""
    by_trace: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        by_trace[s["trace"]].append(s)
    out = []
    for tid in sorted(by_trace):
        group = by_trace[tid]
        by_id = {s["id"]: s for s in group}
        children: dict[int, list[dict]] = defaultdict(list)
        roots = []
        for s in group:
            if s["parent"] is None:
                roots.append(s)
            else:
                children[s["parent"]].append(s)
        problems = []
        if len(roots) != 1:
            problems.append(f"{len(roots)} root spans")
        self_ns: dict[str, int] = defaultdict(int)
        for s in group:
            if s["end_ns"] is None:
                problems.append(f"span {s['name']} never ended")
                continue
            if s["parent"] is not None:
                p = by_id.get(s["parent"])
                if p is None:
                    problems.append(f"span {s['name']} has no parent span")
                elif (s["start_ns"] < p["start_ns"]
                      or s["end_ns"] > p["end_ns"]):
                    problems.append(f"span {s['name']} leaves its parent")
            kids = [(c["start_ns"], c["end_ns"]) for c in children[s["id"]]
                    if c["end_ns"] is not None]
            self_ns[layer_of(s["name"])] += (
                s["end_ns"] - s["start_ns"] - _union_ns(kids)
            )
        root = roots[0] if roots else group[0]
        wall_ns = (root["end_ns"] or root["start_ns"]) - root["start_ns"]
        if sum(self_ns.values()) != wall_ns:
            problems.append(
                f"self times sum to {sum(self_ns.values())} ns, "
                f"wall is {wall_ns} ns"
            )
        out.append({"trace": tid, "name": root["name"], "wall_ns": wall_ns,
                    "self_ns": dict(self_ns), "problems": problems})
    return out


def summarize(doc: dict) -> tuple[list[str], bool]:
    """Readable per-layer self-time table of one trace file (operations and
    set-up separately) and whether every trace accounts for its wall."""
    traces = analyze(doc["spans"])
    lines = [f"workload {doc.get('workload')} seed {doc.get('seed')}: "
             f"{len(traces)} traces"]
    ok = True
    for kind_prefix, label in ((ROOT_PREFIX, "operations"),
                               (SETUP_PREFIX, "set-up")):
        sel = [t for t in traces if t["name"].startswith(kind_prefix)]
        if not sel:
            continue
        wall = sum(t["wall_ns"] for t in sel)
        layers: dict[str, int] = defaultdict(int)
        for t in sel:
            for k, v in t["self_ns"].items():
                layers[k] += v
        lines.append(f"  {label}: {len(sel)} traces, wall {wall / 1e9:.4f} s")
        for k in sorted(layers, key=lambda k: -layers[k]):
            share = layers[k] / wall if wall else 0.0
            lines.append(f"    {k:<14} self {layers[k] / 1e9:10.4f} s  "
                         f"{100 * share:6.2f} %")
        total = sum(layers.values()) / 1e9
        lines.append(f"    {'sum':<14} self {total:10.4f} s")
    for t in traces:
        if t["problems"]:
            ok = False
            lines.append(f"  trace {t['trace']} ({t['name']}): "
                         + "; ".join(t["problems"]))
    lines.append("  accounting: " + ("ok" if ok else "FAILED"))
    return lines, ok


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    all_ok = True
    for path in argv:
        with open(path) as f:
            doc = json.load(f)
        lines, ok = summarize(doc)
        all_ok &= ok
        print("\n".join(lines))
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
