"""Self-tests of the rollup benchmark.

    python3 -m pytest perfbench -q

They run tiny versions of each workload in one local Spark session, so
they take a few minutes; the program's own suite under ``tests/`` does
not collect them.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import runner  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def tiny(name: str) -> gen.Traffic:
    tr, _ = WORKLOADS[name]
    return dataclasses.replace(tr, rows=min(tr.rows, 400), days=min(tr.days, 5), range_days=1)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    saved = dict(os.environ)
    os.environ.update(runner.host_env(REPO, work))
    from spartan2_spark.session import get_spark

    s = get_spark("perfbench-selftest")
    yield s
    s.stop()
    os.environ.clear()
    os.environ.update(saved)


@pytest.fixture(scope="module")
def tiny_runs(spark, tmp_path_factory):
    """One traced tiny run per workload, with its measured phases."""
    runs = {}
    for name in WORKLOADS:
        work = str(tmp_path_factory.mktemp(name))
        run = runner.Run(spark, name, tiny(name), 7, 1.0, True, work, os.path.join(work, "spans"))
        setup_s = run.setup(1.0)
        measured = run.measure()
        layers = run.layer_metrics(measured)
        e2e = run.end_to_end(setup_s, measured)
        run.gate()
        runs[name] = (run, e2e, layers)
    return runs


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_run_emits_every_metric_with_its_unit(tiny_runs, name):
    run, e2e, layers = tiny_runs[name]
    assert run.failed == 0, run.errors
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == {k: u for k, (_, u) in layers.items()}
    assert all(v > 0 for v, _ in e2e.values()), e2e
    assert os.path.exists(run.dump_spans({"workload": name}))


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in BENCH["workloads"]] == [why for _, why in WORKLOADS.values()]


def _rewrite_first_file(table_dir: str, mutate) -> None:
    path = next(
        os.path.join(d, f) for d, _, fs in sorted(os.walk(table_dir)) for f in sorted(fs) if f.endswith(".parquet")
    )
    tbl = pq.read_table(path)
    # keep Spark's INT96 timestamps, so the file's schema still matches
    pq.write_table(mutate(tbl), path, use_deprecated_int96_timestamps=True)
    # drop Hadoop's checksum sidecar, so the read reaches the content
    # check under test rather than failing on the file checksum
    os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))


def _gate_errors(run, root: str) -> list[str]:
    before = len(run.errors)
    run.check_root(root, "late")
    return run.errors[before:]


def test_gate_trips_on_altered_t1h_value(tiny_runs, tmp_path):
    run = tiny_runs["crawl_sparse"][0]
    run.con = reference.connect()
    reference.build(run.con, "late", [
        os.path.join(run.base_dir, "part-0.parquet"), os.path.join(run.late_dir, "part-1.parquet")])
    assert _gate_errors(run, run.root) == []
    root = str(tmp_path / "altered")
    shutil.copytree(run.root, root)

    def bump_vsum(tbl):
        vsum = tbl.column("vsum").to_pylist()
        vsum[0] += 1.0
        return tbl.set_column(tbl.schema.get_field_index("vsum"), "vsum", [vsum])

    _rewrite_first_file(os.path.join(root, "t1h"), bump_vsum)
    errors = _gate_errors(run, root)
    assert any("late.t1h:" in e for e in errors), errors


def test_gate_trips_on_flipped_block_byte(tiny_runs, tmp_path):
    run = tiny_runs["crawl_sparse"][0]
    run.con = reference.connect()
    reference.build(run.con, "late", [
        os.path.join(run.base_dir, "part-0.parquet"), os.path.join(run.late_dir, "part-1.parquet")])
    root = str(tmp_path / "flipped")
    shutil.copytree(run.root, root)

    def flip(tbl):
        blocks = tbl.column("val_block").to_pylist()
        b = bytearray(blocks[0])
        b[len(b) // 2] ^= 0x10
        blocks[0] = bytes(b)
        return tbl.set_column(tbl.schema.get_field_index("val_block"), "val_block", [blocks])

    _rewrite_first_file(os.path.join(root, "blocks_1h"), flip)
    errors = _gate_errors(run, root)
    assert errors and any("CRC" in e for e in errors), errors


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_input_digest(name):
    tr, _ = WORKLOADS[name]
    a = gen.digest(gen.base_pages(tr, 3)), gen.digest(gen.late_pages(tr, 3))
    assert a == (gen.digest(gen.base_pages(tr, 3)), gen.digest(gen.late_pages(tr, 3)))
    assert a[0] != gen.digest(gen.base_pages(tr, 4))


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, a run exits nonzero
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_dense", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
