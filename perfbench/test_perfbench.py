"""Self-tests of the benchmark: seeded inputs, output checks and failure
counting. No Spark session is started.

Run from the repo root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sqlite3
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.run import Loop
from perfbench.spans import Tracer, self_times
from perfbench.workloads import EtlCsv, StreamNearDup, outputs_match

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _file_bytes(path):
    with open(path, "rb") as f:
        return f.read()


def _tree_digest(root):
    """Digest of every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            h.update(_file_bytes(p))
    return h.hexdigest()


def test_warehouse_same_seed_identical_other_seed_different(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.write_warehouse(a, 7, 0.001)
    gen.write_warehouse(b, 7, 0.001)
    gen.write_warehouse(c, 8, 0.001)
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)


def test_raw_listings_same_seed_identical_other_seed_different(tmp_path):
    paths = [str(tmp_path / f"{n}.csv") for n in "abc"]
    exp = [gen.write_raw_listings(p, s, 500) for p, s in zip(paths, (7, 7, 8))]
    assert _file_bytes(paths[0]) == _file_bytes(paths[1])
    assert _file_bytes(paths[0]) != _file_bytes(paths[2])
    assert exp[0] == exp[1]


def test_raw_listings_expected_counts_add_up(tmp_path):
    exp = gen.write_raw_listings(str(tmp_path / "raw.csv"), 3, 2000)
    assert set(exp["issues"]) == set(gen.ISSUE_OF.values())
    assert all(n > 0 for n in exp["issues"].values())
    dropped = exp["rows"] - exp["curated_rows"]
    missing = exp["issues"]["missing_product_name"] + exp["issues"]["missing_supplier_name"]
    assert dropped > missing  # the rest are duplicate (product_url, dispid) keys


def test_epoch_docs_keyed_by_seed():
    assert gen.epoch_docs(7, 2, 100) == gen.epoch_docs(7, 2, 100)
    assert gen.epoch_docs(7, 2, 100) != gen.epoch_docs(8, 2, 100)
    kinds = [r["kind"] for r in gen.epoch_docs(7, 2, 100)]
    assert kinds.count("unique") == 70 and kinds.count("near") == 20 and kinds.count("exact") == 10
    assert {r["kind"] for r in gen.epoch_docs(7, 0, 100)} == {"unique"}


def test_exact_dups_copy_an_earlier_unique_doc():
    seed, n = 5, 50
    earlier = {r["text"]: r for e in range(3) for r in gen.epoch_docs(seed, e, n) if r["kind"] == "unique"}
    for r in gen.epoch_docs(seed, 3, n):
        if r["kind"] == "exact":
            assert r["text"] in earlier


def test_outputs_match_canonical_compare():
    cols, rows = ["k", "v"], [(1, 2.5), (2, None)]
    assert outputs_match(cols, rows, ["v", "k"], [(None, 2), (2.5, 1)])
    assert not outputs_match(cols, rows[:1], cols, rows)
    assert not outputs_match(cols, [(1, 2.5), (2, 0.0)], cols, rows)


class _FakeRegistry:
    """Ops return canned outputs; op ``bad`` returns a deliberately
    wrong one. The check is the registry's real comparator."""

    ref = (["k", "n"], [(1, 10), (2, 20)])

    def ops(self):
        return ["good1", "bad", "good2"]

    def run(self, spark, op, tracer):
        with tracer.span("op", op=op):
            rows = [(1, 10), (2, 21)] if op == "bad" else [(1, 10), (2, 20)]
        return self.ref[0], rows

    def check(self, spark, op, out):
        return outputs_match(*out, *self.ref)


def test_wrong_output_is_counted_as_failed():
    loop = Loop(_FakeRegistry(), spark=None)
    latencies, walls = loop.run_passes(2, (Tracer(None, enabled=False),))[False]
    assert loop.attempted == 6 and loop.failed == 2
    assert [r["ok"] for r in loop.records] == [True, False, True] * 2
    assert len(latencies) == 6 and len(walls) == 2


def test_raising_op_is_counted_as_failed():
    class Boom(_FakeRegistry):
        def run(self, spark, op, tracer):
            if op == "bad":
                raise RuntimeError("boom")
            return super().run(spark, op, tracer)

    loop = Loop(Boom(), spark=None)
    latencies, _ = loop.run_passes(1, (Tracer(None, enabled=False),))[False]
    assert loop.failed == 1 and len(latencies) == 2


def test_traced_and_untraced_ops_alternate():
    class Spy(_FakeRegistry):
        def check(self, spark, op, out):
            self.counters["checked"] += 1
            return super().check(spark, op, out)

    plain, traced = Tracer(None, enabled=False), Tracer(None, enabled=False)
    traced.enabled = True  # spans need a SparkContext; this one opens none
    traced.span = plain.span
    traced.attach_jobs = lambda: None
    loop = Loop(Spy(), spark=None)
    by_mode = loop.run_passes(1, (plain, traced))
    assert [r["traced"] for r in loop.records] == [False, True, True, False, False, True]
    assert len(by_mode[False][0]) == len(by_mode[True][0]) == 3
    assert loop.counters[False]["checked"] == loop.counters[True]["checked"] == 3


def _fake_etl_output(out, curated_rows, issues, sqlite_rows):
    os.makedirs(out / "clean_data_csvdir")
    os.makedirs(out / "data_quality_issues_csvdir")
    with open(out / "clean_data_csvdir" / "part-00000.csv", "w") as f:
        f.write("dispid,product_name\n")
        f.writelines(f"{i},p{i}\n" for i in range(curated_rows))
    with open(out / "data_quality_issues_csvdir" / "part-00000.csv", "w") as f:
        f.write("row_key,issue\n")
        for issue, n in issues.items():
            f.writelines(f"{i},{issue}\n" for i in range(n))
    con = sqlite3.connect(out / "products.db")
    con.execute("CREATE TABLE products (dispid)")
    con.executemany("INSERT INTO products VALUES (?)", [(i,) for i in range(sqlite_rows)])
    con.commit()
    con.close()


def test_etl_check_catches_wrong_counts(tmp_path):
    wl = EtlCsv(rows=10, runs_per_pass=1, pass_seconds=1.0, seed=1)
    wl.expected = {"curated_rows": 5, "issues": {"rating_out_of_range": 2}, "bytes": 100}
    cases = [
        ((5, {"rating_out_of_range": 2}, 5), True),
        ((4, {"rating_out_of_range": 2}, 4), False),  # a curated row lost
        ((5, {"rating_out_of_range": 1}, 5), False),  # an issue missed
        ((5, {"rating_out_of_range": 2}, 4), False),  # SQLite short of the CSV
    ]
    for i, (args, ok) in enumerate(cases):
        out = tmp_path / f"op{i}"
        _fake_etl_output(out, *args)
        assert wl.check(None, f"op{i}", str(out)) is ok


def _fake_epoch(wl, tmp_path, rows, admitted, sig_rows):
    wl.dirs = {"out": str(tmp_path / "out"), "state": str(tmp_path / "state")}
    shutil.rmtree(tmp_path / "out", ignore_errors=True)
    shutil.rmtree(tmp_path / "state", ignore_errors=True)
    os.makedirs(tmp_path / "out" / "epoch=0")
    os.makedirs(tmp_path / "state" / "sigs" / "epoch=0")
    pq.write_table(pa.table({"doc_id": pa.array(sorted(admitted), pa.int64())}),
                   tmp_path / "out" / "epoch=0" / "part-0.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(range(sig_rows), pa.int64())}),
                   tmp_path / "state" / "sigs" / "epoch=0" / "part-0.parquet")
    wl.epoch_rows = {1: rows}
    wl._progress = lambda epoch: {"batch": 0}


def test_stream_check_catches_wrong_admission(tmp_path):
    wl = StreamNearDup(docs_per_epoch=10, epochs_per_pass=1, pass_seconds=1.0, seed=1)
    rows = gen.epoch_docs(1, 1, 10)
    unique = {r["doc_id"] for r in rows if r["kind"] == "unique"}
    exact = {r["doc_id"] for r in rows if r["kind"] == "exact"}
    cases = [
        (unique, len(unique), True),
        (unique - {min(unique)}, len(unique) - 1, False),  # a unique doc dropped
        (unique | exact, len(unique | exact), False),  # an exact dup admitted
        (unique, len(unique) + 1, False),  # store rows != admitted docs
    ]
    for admitted, sig_rows, ok in cases:
        _fake_epoch(wl, tmp_path, rows, admitted, sig_rows)
        assert wl.check(None, "epoch", 1) is ok


def test_self_times_subtract_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 1, "start": 5.0, "end": 9.0},
    ]
    st = self_times(spans)
    assert st == {1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0}
    assert sum(st.values()) == 10.0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard_sf0.001",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
