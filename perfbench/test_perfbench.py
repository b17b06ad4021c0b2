"""The benchmark's own tests: ``python -m pytest perfbench -q``.

The last test runs the benchmark end to end (two short runs of one
workload), so the file takes a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import duckdb
import pytest

from perfbench import inputs, report

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in _spec()[section]}


def test_metric_names_and_units_match_benchmark_json():
    assert report.E2E_UNITS == _units("end_to_end")
    assert report.per_layer_units() == _units("per_layer")


def test_workloads_match_benchmark_json():
    from perfbench.workloads import WORKLOADS

    assert sorted(WORKLOADS) == sorted(w["name"] for w in _spec()["workloads"])


def _tree_equal(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


@pytest.mark.parametrize("kind", ["etl", "registry"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, kind):
    def make(seed: int, name: str) -> str:
        d = str(tmp_path / name)
        if kind == "etl":
            inputs.write_etl_extracts(seed, d)
            return d
        return inputs.registry_inputs(seed, d)

    a, b, c = make(7, "a"), make(7, "b"), make(8, "c")
    assert _tree_equal(a, b)
    assert not _tree_equal(a, c)


# foreign key -> the primary key it references
FOREIGN_KEYS = [
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("embeddings", "vec_id", "documents", "doc_id"),
]


def test_permuted_copy_keeps_sizes_values_and_foreign_keys(tmp_path):
    perm = inputs.registry_inputs(3, str(tmp_path))
    con = duckdb.connect()

    def scan(d: str, t: str) -> str:
        return f"read_parquet('{os.path.join(d, t + '.parquet')}')"

    for t in inputs.TABLES:
        n = con.execute(f"SELECT count(*) FROM {scan(inputs.BUNDLED_SF, t)}").fetchone()[0]
        assert con.execute(f"SELECT count(*) FROM {scan(perm, t)}").fetchone()[0] == n, t
    for domain, cols in inputs.KEY_DOMAINS.items():
        for t, c in cols:
            # same set of key values and same frequency distribution per
            # column; rows really moved
            q = f"SELECT list(DISTINCT {c} ORDER BY {c}), list(n ORDER BY n) FROM (SELECT {c}, count(*) n FROM {{}} GROUP BY ALL)"
            assert con.execute(q.format(scan(perm, t))).fetchall() == con.execute(
                q.format(scan(inputs.BUNDLED_SF, t))
            ).fetchall(), (domain, t, c)
            first = f"SELECT list({c}) FROM (SELECT {c} FROM {{}} LIMIT 50)"
            assert con.execute(first.format(scan(perm, t))).fetchone() != con.execute(
                first.format(scan(inputs.BUNDLED_SF, t))
            ).fetchone(), (t, c)
    for t, fk, pt, pk in FOREIGN_KEYS:
        orphans = con.execute(
            f"SELECT count(*) FROM {scan(perm, t)} WHERE {fk} NOT IN (SELECT {pk} FROM {scan(perm, pt)})"
        ).fetchone()[0]
        assert orphans == 0, (t, fk)


def test_permutation_is_consistent_across_referencing_columns():
    """A row of orders keeps its customer: the customer's attributes seen
    through o_custkey are the same before and after permutation."""
    import pyarrow.parquet as pq

    tables = {t: pq.read_table(os.path.join(inputs.BUNDLED_SF, f"{t}.parquet")) for t in inputs.TABLES}
    perm = inputs.permute_tables(tables, 5)
    con = duckdb.connect()
    q = """SELECT sum(o_totalprice * c_acctbal), count(DISTINCT c_name || o_orderpriority)
           FROM {o} JOIN {c} ON o_custkey = c_custkey"""
    con.register("o0", tables["orders"])
    con.register("c0", tables["customer"])
    con.register("o1", perm["orders"])
    con.register("c1", perm["customer"])
    before = con.execute(q.format(o="o0", c="c0")).fetchone()
    after = con.execute(q.format(o="o1", c="c1")).fetchone()
    assert before[1] == after[1]
    assert before[0] == pytest.approx(after[0], rel=1e-9)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "2", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_metrics_match_benchmark_json(trace, section):
    result = _run("registry_mix", trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _units(section)
