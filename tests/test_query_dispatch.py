"""Query dispatch: driver-local execution of small-bill queries, shipped
phase-1 plans, the footer row-group reader, and Spark-job accounting."""

from __future__ import annotations

import glob
import os
import pickle
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rlv import engine_files, table_files

N_ROWS = 8000


def _source_table(lo: int, hi: int) -> pa.Table:
    idx = range(lo, hi)
    return pa.table({
        "k": pa.array(list(idx), pa.int64()),
        "v_n": pa.array([None if i % 7 == 0 else (i * 37) % 1000
                         for i in idx], pa.int32()),
        "g_n": pa.array([None if i % 11 == 0 else i % 5 for i in idx],
                        pa.int64()),
        "s_n": pa.array([None if i % 13 == 0 else f"s{(i // 97) % 30:02d}"
                         for i in idx], pa.string()),
        "t": pa.array([None if i % 17 == 0 else f"t{(i * 7919) % 5000:05d}"
                       for i in idx], pa.string()),
        "dead_n": pa.array([None] * (hi - lo), pa.int32()),
    })


def _encode(spark, src_dir: str, out: str, n_files: int) -> None:
    os.makedirs(src_dir)
    step = N_ROWS // n_files
    for f in range(n_files):
        pq.write_table(_source_table(f * step, (f + 1) * step),
                       f"{src_dir}/part{f}.parquet", row_group_size=1000)
    table_files.encode_table_files(
        spark, sorted(glob.glob(f"{src_dir}/*.parquet")), out,
        order_col="k", int_cols=["k", "v_n", "g_n", "dead_n"],
        str_cols=["s_n", "t"], rows_per_block=512, num_tasks=n_files,
    )


@pytest.fixture(scope="module")
def datasets(spark, tmp_path_factory):
    """A plain 4-split dataset, the same compacted into one file of four
    segments, one with every split dead, one with more splits than the
    session has cores, and a small dim table for the join."""
    root = tmp_path_factory.mktemp("dispatch")
    out = {}
    for name, n_files in (("plain", 4), ("compacted", 4), ("dead", 4),
                          ("many_tasks", 6)):
        out[name] = str(root / name)
        _encode(spark, str(root / f"src_{name}"), out[name], n_files)
    res = engine_files.compact_blocks(spark, out["compacted"],
                                      target_bytes=1 << 40)
    assert res["bins_written"] == 1
    assert len(table_files._query_tasks(out["compacted"])) == 4
    pdf = engine_files._read_manifest_pdf(out["dead"])
    pdf["status"] = "compacted"
    engine_files._write_manifest_pdf(out["dead"], pdf)
    assert table_files._query_tasks(out["dead"]).empty
    assert len(table_files._query_tasks(out["many_tasks"])) == 6
    dim_src = str(root / "dim_src.parquet")
    pq.write_table(pa.table({
        "d_k": pa.array([0, 1, 2, 3, 4], pa.int64()),
        "g_n": pa.array([0, 1, 2, 4, None], pa.int64()),
        "w": pa.array([0, 10, 20, 40, 99], pa.int64()),
    }), dim_src)
    out["dim"] = str(root / "dim")
    table_files.encode_table_files(
        spark, [dim_src], out["dim"], order_col="d_k",
        int_cols=["d_k", "g_n", "w"], num_tasks=1,
    )
    return out


K_RANGE = [("between", "k", 1500, 5200)]

# every operator family, as (name, call(spark, enc_dir, dim_dir) -> df)
OPERATORS = [
    ("scan", lambda s, e, d: table_files.scan_table_files_where(
        s, e, [*K_RANGE, ("or", [("eq", "s_n", "s03"),
                                  ("isnull", "v_n")])],
        columns=["k", "v_n", "s_n", "t"])),
    ("scan_eq", lambda s, e, d: table_files.scan_table_files_eq(
        s, e, "s_n", "s07", columns=["k", "s_n", "g_n"])),
    ("count", lambda s, e, d: table_files.count_table_files_where(
        s, e, [("between", "v_n", 10, 500), ("notnull", "s_n")])),
    ("count_star", lambda s, e, d: table_files.count_table_files_where(
        s, e, [])),
    ("agg", lambda s, e, d: table_files.agg_table_files_where(
        s, e, ["v_n", "dead_n"], [("in", "s_n", ["s01", "s02", "s20"])])),
    ("minmax_int", lambda s, e, d: table_files.minmax_table_files_where(
        s, e, "v_n", K_RANGE)),
    ("minmax_str", lambda s, e, d: table_files.minmax_table_files_where(
        s, e, "t", K_RANGE)),
    ("group_str", lambda s, e, d: table_files.agg_table_files_by(
        s, e, "v_n", "s_n", preds=K_RANGE)),
    ("group_int", lambda s, e, d: table_files.agg_table_files_by(
        s, e, "v_n", "g_n")),
    ("group_multi", lambda s, e, d: table_files.agg_table_files_by(
        s, e, "v_n", ["g_n", "s_n"], preds=[("notnull", "t")])),
    ("distinct_str", lambda s, e, d: table_files.distinct_table_files(
        s, e, "s_n")),
    ("distinct_int", lambda s, e, d: table_files.distinct_table_files(
        s, e, "g_n")),
    ("distinct_where", lambda s, e, d: table_files.distinct_table_files(
        s, e, "s_n", preds=[("between", "v_n", 0, 300)])),
    ("topk_int", lambda s, e, d: table_files.topk_table_files(
        s, e, "v_n", 7, ascending=False, columns=["k", "v_n"])),
    ("topk_str", lambda s, e, d: table_files.topk_table_files(
        s, e, "t", 5, columns=["k", "t"])),
    ("explain_scan", lambda s, e, d: table_files.explain_scan_table_files(
        s, e, K_RANGE, columns=["k", "v_n"])),
    ("explain_agg", lambda s, e, d: table_files.explain_agg_table_files(
        s, e, "v_n", K_RANGE)),
    ("stats", lambda s, e, d: table_files.stats_table_files(s, e)),
    ("join", lambda s, e, d: table_files.join_table_files(
        s, e, d, on="g_n", columns_a=["k", "v_n"], columns_b=["w"])),
]


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda r: tuple(repr(x) for x in r))


def _run(spark, monkeypatch, bill, fn):
    monkeypatch.setattr(table_files, "DRIVER_BILL_VALUES", bill)
    return _rows(fn())


@pytest.mark.parametrize("name", ["plain", "compacted", "dead",
                                  "many_tasks"])
def test_driver_and_spark_paths_return_identical_rows(
        spark, datasets, monkeypatch, name):
    """The module constant is a test seam here: infinity runs every query
    in the driver, zero sends it to Spark workers with the driver's
    phase-1 plans shipped in the task rows."""
    enc, dim = datasets[name], datasets["dim"]
    for op, call in OPERATORS:
        driver = _run(spark, monkeypatch, float("inf"),
                      lambda: call(spark, enc, dim))
        workers = _run(spark, monkeypatch, 0,
                       lambda: call(spark, enc, dim))
        assert driver == workers, op
        if name != "dead":
            assert driver, op
    if name == "dead":
        [(n,)] = _run(spark, monkeypatch, 0, lambda: (
            table_files.count_table_files_where(spark, enc, K_RANGE)))
        assert n == 0


def _jobs_started(spark, fn) -> list[int]:
    """Spark job ids ``fn`` starts, read from the status tracker under a
    job group; a sentinel job run afterwards flushes the listener bus."""
    sc = spark.sparkContext
    group, sentinel = (f"rlv-probe-{uuid.uuid4().hex}" for _ in range(2))
    sc.setJobGroup(group, "probe")
    try:
        fn()
    finally:
        sc.setJobGroup(sentinel, "sentinel")
        sc.parallelize([0], 1).count()
        tracker = sc.statusTracker()
        for _ in range(1000):
            if tracker.getJobIdsForGroup(sentinel):
                break
            time.sleep(0.01)
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return list(tracker.getJobIdsForGroup(group))


def test_count_star_serves_from_the_manifest_with_no_spark_job(
        spark, datasets):
    df = table_files.count_table_files_where(spark, datasets["plain"], [])
    assert _jobs_started(spark, df.collect) == []
    assert df.collect()[0]["n_rows"] == N_ROWS


def test_selective_collects_start_no_spark_job(spark, datasets,
                                               monkeypatch):
    """count_range, agg_conj and minmax_range on an int value column: the
    bill is small, the driver folds, and neither building the DataFrame
    nor collecting it (a LocalRelation) starts a Spark job."""
    enc = datasets["plain"]
    selective = {
        "count_range": lambda: table_files.count_table_files_where(
            spark, enc, K_RANGE),
        "agg_conj": lambda: table_files.agg_table_files_where(
            spark, enc, "v_n", [*K_RANGE, ("in", "s_n", ["s20", "s21"])]),
        "minmax_range": lambda: table_files.minmax_table_files_where(
            spark, enc, "v_n", K_RANGE),
    }
    for kind, build in selective.items():
        assert _jobs_started(spark, lambda: build().collect()) == [], kind
    # the probe sees jobs when there are some: the same queries on Spark
    monkeypatch.setattr(table_files, "DRIVER_BILL_VALUES", 0)
    for kind, build in selective.items():
        assert _jobs_started(spark, lambda: build().collect()), kind


def _spy_reads(monkeypatch) -> list[tuple[str, tuple]]:
    reads: list[tuple[str, tuple]] = []
    real = table_files._read_filtered

    def spy(path, columns=None, **kw):
        reads.append((path, tuple(columns or ())))
        return real(path, columns, **kw)

    monkeypatch.setattr(table_files, "_read_filtered", spy)
    return reads


def _metadata_reads(reads) -> list[str]:
    """Reads of a blocks file without its payload column."""
    return [p for p, cols in reads
            if os.sep + "blocks" + os.sep in p and "block" not in cols]


def _sidecar_reads(reads) -> list[str]:
    return [p for p, _ in reads if os.sep + "strings" + os.sep in p]


def test_worker_given_a_shipped_plan_reads_no_metadata(spark, datasets,
                                                       monkeypatch):
    enc = datasets["plain"]
    schema = table_files._load_table_schema(enc)
    syms = table_files._symbols_hex(enc)
    preds = table_files._norm_preds(
        schema, [*K_RANGE, ("in", "s_n", ["s20", "s21"])])
    ops = {
        "scan": table_files._make_scan_worker(
            schema, table_files._norm_preds(schema, [("eq", "s_n", "s20")]),
            ["k", "s_n"], syms),
        "agg": table_files._make_agg_worker(["v_n"], preds, syms),
        "count": table_files._make_count_worker(preds, syms),
        "group": table_files._make_group_agg_worker(
            "v_n", "g_n", False, preds, syms),
    }
    tasks = table_files._query_tasks(enc)
    reads = _spy_reads(monkeypatch)
    for name, op in ops.items():
        plans = [
            op.phase1(f, table_files._file_sid(f), None)
            for f in tasks["file"]
        ]
        shipped = tasks.assign(phase1=[pickle.dumps(p) for p in plans])
        reads.clear()
        with_plan = list(op(iter([shipped])))
        assert _metadata_reads(reads) == [], name
        assert _sidecar_reads(reads) == [], name
        assert any(len(f) for f in with_plan), name
        # without a shipped plan the worker classifies for itself
        reads.clear()
        assert [f.to_dict() for f in op(iter([tasks]))] == [
            f.to_dict() for f in with_plan], name
        assert _metadata_reads(reads), name


@pytest.mark.parametrize("bill", [float("inf"), 0])
def test_each_file_metadata_is_read_once_per_query(spark, datasets,
                                                   monkeypatch, bill):
    """In driver mode the driver's one classification serves all three
    phases; in Spark mode the workers get it shipped (their reads are
    covered by the in-process worker test), so the driver's is the
    query's only metadata read."""
    enc = datasets["plain"]
    monkeypatch.setattr(table_files, "DRIVER_BILL_VALUES", bill)
    files = sorted(table_files._query_tasks(enc)["file"])
    reads = _spy_reads(monkeypatch)
    for build in (
        lambda: table_files.count_table_files_where(spark, enc, K_RANGE),
        lambda: table_files.agg_table_files_where(
            spark, enc, "v_n", [*K_RANGE, ("in", "s_n", ["s20"])]),
        lambda: table_files.scan_table_files_eq(
            spark, enc, "s_n", "s20", columns=["k", "v_n"]),
    ):
        reads.clear()
        build().collect()
        assert sorted(_metadata_reads(reads)) == files


def test_driver_path_never_tunes_malloc(spark, datasets, monkeypatch):
    """tune_malloc() turns heap trimming off for the process it runs in:
    right for a short-lived Python worker, wrong for the driver."""
    from rlv import util

    calls = []
    monkeypatch.setattr(util, "tune_malloc", lambda: calls.append(1))
    monkeypatch.setattr(table_files, "DRIVER_BILL_VALUES", float("inf"))
    enc, dim = datasets["plain"], datasets["dim"]
    for op, call in OPERATORS:
        call(spark, enc, dim).collect()
        assert calls == [], op
    # the worker entry point is what tunes: called in-process, it does
    op = table_files._make_count_worker(
        table_files._norm_preds(table_files._load_table_schema(enc),
                                K_RANGE))
    list(op(iter([table_files._query_tasks(enc)])))
    assert calls


@pytest.mark.parametrize("bill", [float("inf"), 0])
def test_truncated_blocks_file_raises_naming_it(spark, datasets,
                                                tmp_path, bill,
                                                monkeypatch):
    import shutil

    enc = str(tmp_path / "enc")
    shutil.copytree(datasets["plain"], enc)
    victim = sorted(glob.glob(f"{enc}/blocks/*.parquet"))[1]
    data = open(victim, "rb").read()
    with open(victim, "wb") as f:
        f.write(data[: len(data) // 2])
    monkeypatch.setattr(table_files, "DRIVER_BILL_VALUES", bill)
    name = os.path.basename(victim)
    for build in (
        lambda: table_files.count_table_files_where(spark, enc, K_RANGE),
        lambda: table_files.scan_table_files_where(spark, enc, K_RANGE),
        lambda: table_files.agg_table_files_where(spark, enc, "v_n",
                                                  K_RANGE),
    ):
        with pytest.raises(Exception, match=name):
            build().collect()


def test_footer_reader_matches_filtered_read_table(datasets, tmp_path):
    """Same rows as ``pq.read_table(filters=...)`` on a compacted file,
    with and without row-group statistics, and the same error on a
    truncated file."""
    [path] = glob.glob(f"{datasets['compacted']}/blocks/*.parquet")
    seg = sorted(table_files._query_tasks(datasets["compacted"])
                 ["segment"])[2]
    no_stats = str(tmp_path / "no_stats.parquet")
    pf = pq.ParquetFile(path)
    with pq.ParquetWriter(no_stats, pf.schema_arrow,
                          write_statistics=False) as w:
        for i in range(pf.num_row_groups):
            w.write_table(pf.read_row_group(i))
    cols = ["split_seq", "col_name", "block_idx", "n_values", "block"]
    for p in (path, no_stats):
        for kw, filters in (
            ({"col": ["v_n", "s_n"]}, [("col_name", "in", ["v_n", "s_n"])]),
            ({"col": "k", "seg": seg, "block_idx": [0, 2]},
             [("col_name", "=", "k"), ("split_seq", "=", seg),
              ("block_idx", "in", [0, 2])]),
            ({"seg": seg}, [("split_seq", "=", seg)]),
        ):
            got = table_files._read_filtered(p, cols, **kw)
            want = pq.read_table(p, columns=cols, filters=filters)
            assert got.equals(want.combine_chunks()), (p, kw)
    trunc = str(tmp_path / "trunc.parquet")
    data = open(path, "rb").read()
    with open(trunc, "wb") as f:
        f.write(data[:100])
    errors = []
    for read in (lambda: pq.read_table(trunc, filters=[("col_name", "=",
                                                        "k")]),
                 lambda: table_files._read_filtered(trunc, col="k")):
        with pytest.raises(Exception) as ei:
            read()
        errors.append((type(ei.value), str(ei.value)))
    assert errors[0] == errors[1]
