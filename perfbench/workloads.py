"""The workloads. Each is a closed loop over a fixed op list:

- ``setup(spark, work)`` makes the inputs from the seed and runs the
  untimed warm-up;
- ``ops()`` is the op list of one pass;
- ``run(spark, op, tracer)`` runs one op inside an ``op`` span and
  returns what ``check`` needs;
- ``check(spark, op, out)`` verifies the op's output, outside the timed
  region, and returns ``True`` when it is right.
"""

from __future__ import annotations

import csv
import glob
import os
import random
import re
import shutil
import sqlite3
import time
from collections import Counter

from perfbench import gen
from perfbench.runtime import dir_bytes
from perfbench.spans import Tracer

#: the untraced twin, for warm-up ops
_NULL_TRACER = Tracer(None, enabled=False)

#: SURVEY.md §2 sections A-D: the reference's own surface (etl.py,
#: analysis.py, reports) plus the relational core and the events keys
DASHBOARD_KEYS = [
    # A. cleaning / standardization
    "clean_standardize", "parse_price", "price_bucket", "region_rollup",
    "anonymize_hash", "winsorize_price", "quality_issues", "missing_fill",
    "dedup_keep_first", "profile_report", "etl_pipeline_e2e", "isq_attributes",
    # B. analytics
    "kpi_summary", "avg_price_by_group", "top_groups", "share_top5_others",
    "price_histogram", "count_avg_combo", "topk_cumulative", "scatter_sample",
    "missing_by_group", "outliers_top_pct", "token_counts", "unknown_share",
    "price_rating_corr",
    # C. relational core
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "windowed_rank", "q6_forecast_revenue", "q7_nation_volume",
    "q10_returned_items", "q13_order_distribution", "q14_promo_share",
    "q18_large_orders", "q19_bracket_revenue", "q22_idle_customers",
    "q15_top_supplier", "q11_important_parts", "q17_small_quantity",
    "q8_market_share", "q12_late_shipments", "q21_sole_late_supplier",
    "q9_product_profit", "q16_part_suppliers", "lineitem_discount_sensitivity",
    "q2_min_cost_supplier", "q4_priority_check", "q20_excess_suppliers",
    # D. events / temporal
    "events_tumbling", "events_dedup_window", "events_sessionize",
    "events_session_window_native", "events_props_parse",
]

#: registry keys whose execution is >= 2x their Python build and
#: >= 0.8 s at sf0.1 on a 4-core box (see README.md for the scan)
HEAVY_KEYS = [
    "q21_sole_late_supplier",  # fact-fact join + conditional aggregation
    "dedup_minhash_lsh",  # MinHash signatures, LSH band self-join
    "ann_ivf_pq_portable",  # IVF-PQ encode: window-heavy vector quantization
    "events_sessionize",  # lag / running-sum windows over the events table
    "supplier_revenue_rank",  # fact aggregation + rank window
    "docs_tfidf_topterms",  # tokenize, term-frequency shuffle, top-k window
]


class Registry:
    """Dashboard / heavy: one op = one registry key, built, planned and
    executed into a noop sink (every output column computed, no rows
    returned). The seed makes the tables and fixes the key order."""

    def __init__(self, keys: list[str], sf: float, pass_seconds: float, seed: int):
        self.keys, self.sf, self.pass_seconds, self.seed = keys, sf, pass_seconds, seed
        self.data_dir = None
        self._oracle: dict[str, tuple] = {}
        self._con = None

    def setup(self, spark, work: str) -> None:
        from b2b_data_pipeline_indiamart_spark.plans import QUERIES

        self.data_dir = os.path.join(work, "warehouse")
        gen.write_warehouse(self.data_dir, self.seed, self.sf)
        # warm-up: every key once, so one-time costs (JIT, the first
        # read of a table, Python workers) land here and not on
        # whichever op the seed puts first
        for key in sorted(self.keys):
            QUERIES[key](spark, self.data_dir).write.format("noop").mode("overwrite").save()

    def ops(self) -> list[str]:
        keys = list(self.keys)
        random.Random(self.seed).shuffle(keys)
        return keys

    def run(self, spark, key: str, tracer):
        from b2b_data_pipeline_indiamart_spark.plans import QUERIES

        with tracer.span("op", op=key):
            with tracer.span("plans.build"):
                df = QUERIES[key](spark, self.data_dir)
            with tracer.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("operators.exec"):
                df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, spark, key: str, df) -> bool:
        from b2b_data_pipeline_indiamart_spark.plans import ORACLE, QUERIES

        rows = [tuple(r) for r in df.collect()]
        if key not in self._oracle:
            if key in ORACLE:
                res = self.duck().execute(ORACLE[key])
                self._oracle[key] = ([d[0] for d in res.description], res.fetchall())
            else:
                # rows-only key: a second, independent run is the reference
                again = QUERIES[key](spark, self.data_dir)
                self._oracle[key] = (again.columns, [tuple(r) for r in again.collect()])
        return outputs_match(df.columns, rows, *self._oracle[key])

    def duck(self):
        if self._con is None:
            import duckdb

            from b2b_data_pipeline_indiamart_spark.catalog import TABLES

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{t}.parquet')"
                )
        return self._con

    def teardown(self) -> None:
        if self._con is not None:
            self._con.close()


def outputs_match(cols, rows, ref_cols, ref_rows) -> bool:
    """DuckDB-oracle hash compare with ``tools/full_parity.py``'s
    canonical form: columns ordered by name, values normalized, rows
    sorted. Rows-only keys compare against a second run the same way."""
    from tools.full_parity import _comparable

    return (
        sorted(cols) == sorted(ref_cols)
        and len(rows) == len(ref_rows)
        and _comparable(cols, rows) == _comparable(ref_cols, ref_rows)
    )


class EtlCsv:
    """One op = ``pipeline.run_pipeline`` on a seeded raw scrape CSV,
    writing curated CSV, profile, issues and SQLite into a fresh
    directory."""

    def __init__(self, rows: int, runs_per_pass: int, pass_seconds: float, seed: int):
        self.rows, self.runs_per_pass, self.seed = rows, runs_per_pass, seed
        self.pass_seconds = pass_seconds
        self.expected: dict = {}
        self.input = None
        self.out_root = None
        self.counters = Counter()  # run.Loop swaps in its own

    def setup(self, spark, work: str) -> None:
        os.makedirs(work, exist_ok=True)
        self.input = os.path.join(work, "raw_listings.csv")
        self.expected = gen.write_raw_listings(self.input, self.seed, self.rows)
        self.out_root = os.path.join(work, "etl_out")
        self.run(spark, "warmup", _NULL_TRACER)

    def ops(self) -> list[str]:
        return [f"run{i}" for i in range(self.runs_per_pass)]

    def run(self, spark, op: str, tracer):
        from b2b_data_pipeline_indiamart_spark.pipeline import ETLConfig, run_pipeline

        out = os.path.join(self.out_root, op)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        cfg = ETLConfig(
            input_file=self.input,
            output_csv=os.path.join(out, "clean_data.csv"),
            profile_report=os.path.join(out, "data_profile_report.csv"),
            quality_issues=os.path.join(out, "data_quality_issues.csv"),
            output_db=os.path.join(out, "products.db"),
        )
        with tracer.span("op", op=op):
            with tracer.span("pipeline.run"):
                run_pipeline(spark, cfg)
        return out

    def check(self, spark, op: str, out: str) -> bool:
        curated = _csv_rows(os.path.join(out, "clean_data_csvdir"))
        issues: dict[str, int] = {}
        for r in _csv_rows(os.path.join(out, "data_quality_issues_csvdir")):
            issues[r["issue"]] = issues.get(r["issue"], 0) + 1
        con = sqlite3.connect(os.path.join(out, "products.db"))
        try:
            (sqlite_rows,) = con.execute("SELECT COUNT(*) FROM products").fetchone()
        finally:
            con.close()
        self.counters["bytes_written"] += dir_bytes(out)
        self.counters["sqlite_rows"] += sqlite_rows
        self.counters["csv_bytes_in"] += self.expected["bytes"]
        shutil.rmtree(out, ignore_errors=True)
        return (
            len(curated) == self.expected["curated_rows"]
            and sqlite_rows == len(curated)
            and issues == self.expected["issues"]
        )

    def teardown(self) -> None:
        pass


def _csv_rows(csv_dir: str) -> list[dict]:
    rows: list[dict] = []
    for part in sorted(glob.glob(os.path.join(csv_dir, "part-*.csv"))):
        with open(part, newline="", encoding="utf-8-sig") as f:
            rows.extend(csv.DictReader(f))
    return rows


class StreamNearDup:
    """One op = one epoch through ``start_neardup_suppress_sink``:
    a seeded JSONL file lands in the watched directory and the op ends
    when ``processAllAvailable()`` returns with that file committed.
    Epoch 0 (all unique docs) is the untimed warm-up, and the source
    of the later epochs' dups."""

    def __init__(self, docs_per_epoch: int, epochs_per_pass: int, pass_seconds: float, seed: int):
        self.docs, self.epochs_per_pass, self.seed = docs_per_epoch, epochs_per_pass, seed
        self.pass_seconds = pass_seconds
        self.query = None
        self.next_epoch = 0
        self.dirs: dict[str, str] = {}
        self.epoch_rows: dict[int, list[dict]] = {}
        self.counters = Counter()  # run.Loop swaps in its own

    def setup(self, spark, work: str) -> None:
        from pyspark.sql import types as T

        from b2b_data_pipeline_indiamart_spark.streaming.jobs import (
            read_event_stream,
            start_neardup_suppress_sink,
        )

        self.dirs = {d: os.path.join(work, "stream", d) for d in ("src", "out", "ckpt", "state", "ledger", "stage")}
        for d in ("src", "stage"):
            os.makedirs(self.dirs[d], exist_ok=True)
        schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
        stream = read_event_stream(spark, self.dirs["src"], schema=schema, max_files_per_trigger=1)
        self.query = start_neardup_suppress_sink(
            stream, self.dirs["out"], self.dirs["ckpt"], self.dirs["state"],
            self.dirs["ledger"], threshold=0.8,
        )
        self.run(spark, "warmup", _NULL_TRACER)

    def ops(self) -> list[str]:
        return [f"epoch{i + 1}" for i in range(self.epochs_per_pass)]

    def run(self, spark, op: str, tracer):
        epoch = self.next_epoch
        self.next_epoch += 1
        rows = gen.epoch_docs(self.seed, epoch, self.docs)
        self.epoch_rows[epoch] = rows
        # written beside the watched directory and moved in (atomically)
        # when the op starts: the op times the landing, not the write
        staged = os.path.join(self.dirs["stage"], f"b{epoch:05d}.json")
        gen.write_epoch(staged, rows)
        before = _group_jobs(spark, self.query)
        with tracer.span("op", op=op):
            with tracer.span("streaming.epoch") as epoch_span:
                os.replace(staged, os.path.join(self.dirs["src"], f"b{epoch:05d}.json"))
                self._await(epoch)
        if epoch_span is not None:
            # the epoch's jobs run on the query's thread, in its job group
            epoch_span["jobs"] = sorted(_group_jobs(spark, self.query) - before)
            epoch_span["progress"] = self._progress(epoch)
        return epoch

    def _await(self, epoch: int) -> None:
        """Block until the file of ``epoch`` is committed by the source
        (``processAllAvailable`` can return before a just-landed file
        is listed)."""
        deadline = time.perf_counter() + 120
        self.query.processAllAvailable()
        while self._file_offset() < epoch:
            if time.perf_counter() > deadline:
                raise RuntimeError(f"epoch {epoch} never committed")
            time.sleep(0.05)
            self.query.processAllAvailable()

    def _file_offset(self) -> int:
        off = -1
        for p in self.query.recentProgress:
            for s in p["sources"]:
                m = re.search(r"logOffset\D*(\d+)", str(s["endOffset"]))
                if m:
                    off = max(off, int(m.group(1)))
        return off

    def _progress(self, epoch: int) -> dict:
        for p in self.query.recentProgress:
            for s in p["sources"]:
                m = re.search(r"logOffset\D*(\d+)", str(s["endOffset"]))
                if m and int(m.group(1)) == epoch and p["numInputRows"] > 0:
                    return {"batch": p["batchId"], **p["durationMs"]}
        return {}

    def check(self, spark, op: str, epoch: int) -> bool:
        import pyarrow.parquet as pq

        batch = self._progress(epoch).get("batch")
        if batch is None:
            return False
        admitted = set(
            pq.read_table(f"{self.dirs['out']}/epoch={batch}", columns=["doc_id"])
            .column("doc_id").to_pylist()
        )
        sig_rows = pq.read_table(f"{self.dirs['state']}/sigs/epoch={batch}", columns=["doc_id"]).num_rows
        rows = self.epoch_rows.pop(epoch)
        unique = {r["doc_id"] for r in rows if r["kind"] == "unique"}
        exact = {r["doc_id"] for r in rows if r["kind"] == "exact"}
        self.counters["admitted"] += len(admitted)
        self.counters["docs"] += len(rows)
        return unique <= admitted and not (exact & admitted) and sig_rows == len(admitted)

    def state_size(self) -> tuple[int, int]:
        """(bytes, signature rows) of the admitted-signature store."""
        import pyarrow.parquet as pq

        sigs = pq.read_table(f"{self.dirs['state']}/sigs", columns=["doc_id"])
        return dir_bytes(self.dirs["state"]), sigs.num_rows

    def teardown(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


def _group_jobs(spark, query) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))


#: bench.py's headline keys that lie in sections A-D
HEADLINE_KEYS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "windowed_rank", "etl_pipeline_e2e", "events_sessionize",
]
#: the dashboard op list: the headline keys plus every twelfth other key
#: of A-D, so every section is represented in a pass that fits the run
#: budget (10 keys)
DASHBOARD_OPS = HEADLINE_KEYS + [k for k in DASHBOARD_KEYS if k not in HEADLINE_KEYS][::12]

#: name -> factory(seed). ``pass_seconds`` is the nominal length of one
#: pass: a run makes ``round(--seconds / pass_seconds)`` passes (>= 1).
WORKLOADS = {
    "dashboard_sf0.001": lambda seed: Registry(DASHBOARD_OPS, 0.001, 10.0, seed),
    "etl_csv": lambda seed: EtlCsv(rows=1_000, runs_per_pass=2, pass_seconds=14.0, seed=seed),
    "stream_neardup": lambda seed: StreamNearDup(
        docs_per_epoch=100, epochs_per_pass=2, pass_seconds=24.0, seed=seed),
    # not in BENCHMARK.json: its runs do not fit the benchmark's time budget
    # next to the other three (see README.md); run it by name
    "heavy_sf0.1": lambda seed: Registry(HEAVY_KEYS, 0.1, 20.0, seed),
}
