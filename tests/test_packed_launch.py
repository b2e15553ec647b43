"""The packed task launcher (``engine_files.run_packed``): LPT bins, byte
identity across packings, plan-ordered manifests and samples, and one Spark
stage per job."""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from rlv import engine_files, table_files, tokens
from test_query_dispatch import _jobs_started, _source_table

N_SPLITS = 8  # twice the session's cores, so the default launch packs

# the bin-count seam: one bin for every unit, one bin per unit, and bins
# whose task order interleaves the plan order
PACKINGS = {"one_bin": 1, "bin_per_unit": 10**6, "three_bins": 3}


@pytest.fixture(scope="module")
def tok_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("packed") / "tokens")
    tokens.synth_tokens(spark, n_rows=400, seed=7).repartition(
        N_SPLITS).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def table_src(tmp_path_factory):
    d = tmp_path_factory.mktemp("packed_table_src")
    for f in range(6):
        pq.write_table(_source_table(f * 1000, (f + 1) * 1000),
                       str(d / f"part{f}.parquet"), row_group_size=500)
    return sorted(glob.glob(str(d / "*.parquet")))


def _encode_tokens(spark, tok_dir, out):
    stats = engine_files.sample_pass(spark, tok_dir, every_kth=1,
                                     num_tasks=N_SPLITS)
    engine_files.encode_files_dataset(
        spark, tok_dir, out, num_tasks=N_SPLITS, resume=False,
        string_cols=("source",),
        fsst_symbols=[bytes.fromhex(h) for h in stats["fsst_symbols"]],
    )
    return stats


def _encode_table(spark, files, out):
    table_files.encode_table_files(
        spark, files, out, order_col="k", int_cols=["k", "v_n", "g_n"],
        str_cols=["s_n", "t"], rows_per_block=256, num_tasks=len(files) * 2,
    )


@pytest.fixture(scope="module")
def packed_runs(spark, tok_dir, table_src, tmp_path_factory):
    """Each plane encoded into a fresh directory under each packing."""
    root = tmp_path_factory.mktemp("packed_runs")
    runs: dict[tuple[str, str], dict] = {}
    for packing, slots in PACKINGS.items():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(engine_files, "_launch_slots", lambda spark: slots)
            out = str(root / f"tokens_{packing}")
            stats = _encode_tokens(spark, tok_dir, out)
            runs["tokens", packing] = {"out": out, "stats": stats}
            out = str(root / f"table_{packing}")
            _encode_table(spark, table_src, out)
            runs["table", packing] = {"out": out}
    return runs


def _digests(out: str) -> dict[str, str]:
    return {
        os.path.relpath(p, out): hashlib.sha256(open(p, "rb").read())
        .hexdigest()
        for sub in ("blocks", "strings")
        for p in sorted(glob.glob(f"{out}/{sub}/*.parquet"))
    }


def _manifest_order(out: str) -> list[str]:
    return list(engine_files._read_manifest_pdf(out)["split_id"])


def test_pack_units_is_deterministic_lpt_within_the_slots():
    weights = [5, 90, 1, 1, 40, 40, 3, 0, 70, 12, 12, 8]
    for slots in (1, 3, 4, 12, 50):
        bins = engine_files.pack_units(weights, slots)
        assert 1 <= len(bins) <= slots
        assert sorted(i for b in bins for i in b) == list(range(len(weights)))
        assert all(b == sorted(b) for b in bins)
        assert engine_files.pack_units(list(weights), slots) == bins
    # LPT: the heaviest units open their own bins, the rest fill the
    # lightest bin, so no bin exceeds the heaviest unit plus the mean load
    bins = engine_files.pack_units(weights, 4)
    loads = sorted(sum(weights[i] for i in b) for b in bins)
    assert len(bins) == 4
    assert loads[-1] <= max(weights) + sum(weights) / 4
    # no more units than slots: one unit per bin
    assert engine_files.pack_units([3, 1, 2], 4) == [[0], [2], [1]]


def test_run_packed_hands_every_unit_to_the_worker_once(spark, monkeypatch):
    units = pd.DataFrame({"u": [f"u{i}" for i in range(11)],
                          "b": [i % 2 == 0 for i in range(11)]})

    def identity(pdf_iter):
        for pdf in pdf_iter:
            yield pdf.assign(n=len(pdf))

    cores = spark.sparkContext.defaultParallelism
    for slots in (1, cores, 10**6):
        monkeypatch.setattr(engine_files, "_launch_slots", lambda s: slots)
        df = engine_files.run_packed(spark, units, identity,
                                     "u string, b boolean, n bigint",
                                     weights=range(11))
        rows = df.collect()
        assert sorted((r["u"], r["b"]) for r in rows) == sorted(
            zip(units["u"], units["b"]))
        # one worker frame per bin; unit weights are floored at 1
        bins = engine_files.pack_units([max(w, 1) for w in range(11)], slots)
        assert sorted(r["n"] for r in rows) == sorted(
            len(b) for b in bins for _ in b)
        assert df.rdd.getNumPartitions() == min(len(bins), cores)


@pytest.mark.parametrize("plane", ["tokens", "table"])
def test_packings_write_sha256_identical_files(packed_runs, plane):
    one = _digests(packed_runs[plane, "one_bin"]["out"])
    assert any(k.startswith("strings") for k in one)
    assert len(one) > 2 * 4
    for packing in PACKINGS:
        assert _digests(packed_runs[plane, packing]["out"]) == one, packing


@pytest.mark.parametrize("plane", ["tokens", "table"])
def test_fresh_manifest_rows_follow_the_plan(packed_runs, tok_dir,
                                             table_src, plane):
    if plane == "tokens":
        plan = engine_files.plan_splits(tok_dir, N_SPLITS)
    else:
        plan = engine_files.plan_splits_for_files(table_src,
                                                  len(table_src) * 2)
    want = [s["split_id"] for s in plan]
    assert len(want) > 4
    for packing in PACKINGS:
        assert _manifest_order(packed_runs[plane, packing]["out"]) == want


def test_sample_pass_symbols_do_not_depend_on_the_packing(packed_runs):
    stats = [packed_runs["tokens", p]["stats"] for p in PACKINGS]
    assert stats[0]["fsst_symbols"]
    assert all(s == stats[0] for s in stats)


def test_sample_worker_emits_one_sample_per_file(tok_dir):
    split = engine_files.plan_splits(tok_dir, 1)[0]
    n_files = len({path for path, _ in split["pieces"]})
    units = pd.DataFrame({"split_id": [split["split_id"]],
                          "pieces": [json.dumps(split["pieces"])]})
    [rows] = list(engine_files._sample_worker(iter([units])))
    assert len(rows) > n_files  # several sources per file
    assert sum(len(t) > 0 for t in rows["sample_text"]) == n_files


def _stage_ids(spark, fn) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    return [s for j in _jobs_started(spark, fn)
            for s in tracker.getJobInfo(j).stageIds]


def test_every_files_plane_job_is_one_spark_stage(spark, tok_dir, table_src,
                                                  tmp_path):
    out = str(tmp_path / "enc")
    jobs = {
        "sample": lambda: engine_files.sample_pass(
            spark, tok_dir, every_kth=1, num_tasks=N_SPLITS),
        "encode": lambda: engine_files.encode_files_dataset(
            spark, tok_dir, out, num_tasks=N_SPLITS),
        "verify": lambda: engine_files.verify_files_dataset(
            spark, tok_dir, out),
        "count_runs": lambda: engine_files.count_runs_files(
            spark, tok_dir, num_tasks=N_SPLITS),
        "decode": lambda: engine_files.decode_files_dataset(
            spark, out, str(tmp_path / "restored")),
        "compact": lambda: engine_files.compact_blocks(
            spark, out, target_bytes=2 * max(
                os.path.getsize(p) for p in glob.glob(f"{out}/blocks/*"))),
        "encode_table_files": lambda: _encode_table(
            spark, table_src, str(tmp_path / "table")),
    }
    results = {}
    for name, job in jobs.items():
        stages = _stage_ids(spark, lambda: results.update({name: job()}))
        assert len(stages) == 1, (name, stages)
    assert results["verify"]["mismatches"] == 0
    assert results["verify"]["splits"] == N_SPLITS
    assert results["compact"]["bins_written"] > 1
    # positive control: the same launch behind a repartition is two stages
    units = pd.DataFrame({"u": ["a", "b", "c"]})
    shuffled = _stage_ids(spark, lambda: engine_files.run_packed(
        spark, units, lambda it: it, "u string", [1, 1, 1]
    ).repartition(2).collect())
    assert len(shuffled) >= 2


def test_tasks_drop_the_pyspark_zip_finders_and_lazy_imports_still_work(
        spark):
    # pyspark submodules the engine never imports, in new subpackages, so
    # the import must build a finder on the zip that the task dropped
    candidates = ("pyspark.ml.linalg", "pyspark.mllib.linalg",
                  "pyspark.streaming.util")

    def probe(pdf_iter):
        """Report the zip finders at worker entry, then lazily import a
        fresh pyspark submodule while counting the archive reads it
        makes."""
        import importlib
        import sys
        import zipimport

        archive = getattr(sys.modules["pyspark"].__loader__, "archive", None)

        def zip_finders() -> int:
            return sum(archive is not None and getattr(f, "archive", None)
                       == archive for f in sys.path_importer_cache.values())

        at_entry = zip_finders()
        fresh = next((m for m in candidates if m not in sys.modules), "")
        reads: list[str] = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counted
        try:
            imported = bool(fresh) and importlib.import_module(
                fresh) is not None
        finally:
            zipimport._read_directory = read_directory
        for _ in pdf_iter:
            yield pd.DataFrame({
                "archive": [archive or ""], "at_entry": [at_entry],
                "fresh": [fresh], "imported": [imported],
                "archive_reads": [reads.count(archive)],
                "after_import": [zip_finders()],
            })

    units = pd.DataFrame({"u": ["a"]})
    engine_files.run_packed(spark, units, lambda it: it, "u string",
                            [1]).collect()
    [r] = engine_files.run_packed(
        spark, units, probe,
        "archive string, at_entry bigint, fresh string, imported boolean, "
        "archive_reads bigint, after_import bigint", [1]).collect()
    if not r["archive"]:
        pytest.skip("the workers import pyspark from a directory, so there "
                    "is no zip finder to drop")
    assert r["at_entry"] == 0
    assert r["fresh"], "every probe module was already loaded"
    assert r["imported"]
    # the import rebuilt finders on the zip from the directory cache, with
    # no re-read of the archive: which is why every task drops them again
    assert r["after_import"] > 0
    assert r["archive_reads"] == 0
