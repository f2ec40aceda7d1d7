"""Tests of the benchmark itself (not of filesql_spark). Run from the
repository root:

    python3 -m pytest perfbench/tests -q

None of them starts Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import Samples  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ generator

def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.write_files_dir(str(a), 7, 0.001)
    gen.write_files_dir(str(b), 7, 0.001)
    gen.write_files_dir(str(c), 8, 0.001)
    assert gen.fingerprint(str(a)) == gen.fingerprint(str(b))
    assert gen.fingerprint(str(a)) != gen.fingerprint(str(c))


def test_parquet_tables_are_deterministic_per_seed(tmp_path):
    gen.write_parquet_dir(str(tmp_path / "a"), 3, 0.001)
    gen.write_parquet_dir(str(tmp_path / "b"), 3, 0.001)
    assert gen.fingerprint(str(tmp_path / "a")) == gen.fingerprint(str(tmp_path / "b"))


def test_row_counts_do_not_depend_on_the_seed():
    one, two = gen.relational(1, 0.001), gen.relational(2, 0.001)
    for table in one:
        n1 = len(next(iter(one[table].values())))
        n2 = len(next(iter(two[table].values())))
        assert n1 == n2, table


def test_every_generated_format_reads_back(tmp_path):
    names = gen.write_files_dir(str(tmp_path), 5, 0.001)
    assert len(names) == 7
    tables = gen.relational(5, 0.001)
    for name, table in [("lineitem.csv", "lineitem"), ("orders.tsv", "orders"),
                        ("customer.csv.gz", "customer"), ("part.csv.zst", "part"),
                        ("nation.ltsv", "nation"), ("region.xlsx", "region"),
                        ("supplier.parquet", "supplier")]:
        header, rows = check.read_file(str(tmp_path / name))
        assert header == list(tables[table]), name
        assert len(rows) == len(next(iter(tables[table].values()))), name


# -------------------------------------------------------------- checker

def test_checker_accepts_reordered_and_rejects_perturbed_results():
    want = [(1, "a", 10.25), (2, "b", 3.5), (3, None, 0.1)]
    assert check.same_rows(list(reversed(want)), want) is None
    assert check.same_rows([(1, "a", 10.25), (2, "b", 3.5), (3, None, 0.1 + 1e-13)], want) is None
    perturbed = [(1, "a", 10.25), (2, "b", 3.51), (3, None, 0.1)]
    assert check.same_rows(perturbed, want) is not None
    assert check.same_rows(want[:2], want) is not None
    assert check.same_rows([(1, "a", 10.25), (2, "c", 3.5), (3, None, 0.1)], want) is not None


def test_dump_hash_is_order_insensitive_and_value_sensitive():
    rows = [[1, "x", 2.5], [2, "y", 7.0]]
    assert check.rows_hash(rows) == check.rows_hash(list(reversed(rows)))
    assert check.rows_hash(rows) != check.rows_hash([[1, "x", 2.5], [2, "y", 7.01]])


def test_sqlite_oracle_loads_generated_files(tmp_path):
    gen.write_edit_dir(str(tmp_path), 1, 0.001)
    con = check.sqlite_from_files(
        {"orders": str(tmp_path / "orders.csv"), "nation": str(tmp_path / "nation.ltsv")},
        keys={"orders": "o_orderkey"},
    )
    n = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    assert n == gen.Sizes.at(0.001).orders
    assert con.execute("SELECT typeof(o_totalprice) FROM orders LIMIT 1").fetchone()[0] == "real"
    assert con.execute("SELECT COUNT(*) FROM nation").fetchone()[0] == 25


# -------------------------------------------------------------- metrics

def test_benchmark_json_matches_the_metrics_the_runner_prints():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


def _samples() -> Samples:
    s = Samples()
    s.prepare = [1.0, 1.2]
    s.ops = [0.1 * i for i in range(1, 15)]
    s.passes = [4.0, 4.4]
    for i, x in enumerate(s.ops):
        s.add(f"op.label{i % 4}", x)
    s.attempted = 14
    return s


class _Stats:
    def cached_bytes(self):
        return 0

    def jvm_committed_mb(self):
        return 100.0


def _args(trace: int):
    return SimpleNamespace(workload="files_session", seed=1, seconds=30, trace=trace)


def test_every_metric_is_printed_with_its_unit_in_both_modes():
    s = _samples()
    record, result = run.report(_args(0), {}, [10.0, 1.0, 1.1], s, None)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 14

    ctx = SimpleNamespace(tracer=Tracer(SimpleNamespace(sparkContext=None)),
                          records=[], plan_chars=0, stats=_Stats())
    layers = run.per_layer(ctx, [10.0, 1.0, 1.1], s)
    traced_record, traced = run.report(_args(1), {}, [10.0, 1.0, 1.1], s, layers)
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == run.PER_LAYER
    # both modes carry the same end-to-end names in their run record
    assert set(record["record"]["end_to_end"]) == set(traced_record["record"]["end_to_end"])
    assert set(record["record"]["end_to_end"]) == set(run.END_TO_END)


def test_a_failed_check_makes_the_result_incorrect():
    s = _samples()
    s.fail("point_lookup: row 0 differs")
    _, result = run.report(_args(0), {}, [1.0, 1.0, 1.0], s, None)
    assert result["correct"] is False and result["failed"] == 1


def test_op_gmean_weighs_every_label_the_same():
    s = Samples()
    for x in (0.9, 1.0, 50.0):  # one slow outlier does not move the median
        s.add("op.a", x)
    for x in (4.0, 4.0):
        s.add("op.b", x)
    s.add("build.ivf", 100.0)  # not an operation
    assert abs(run.op_gmean(s) - 2.0) < 1e-12
    assert run.op_gmean(Samples()) == 0.0


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct = run.tail(xs)
    assert value == 90.0 and pct == 90.0
    assert sum(x > value for x in xs) == 10
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


# ---------------------------------------------------------------- runner

def test_runner_refuses_a_directory_without_the_program(tmp_path):
    shutil_target = tmp_path / "perfbench"
    shutil_target.mkdir()
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "files_session",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout == ""


@pytest.mark.parametrize("argv", [["--workload", "nope", "--seed", "1", "--seconds", "1"]])
def test_runner_rejects_an_unknown_workload(argv):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *argv],
        cwd=ROOT, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""
