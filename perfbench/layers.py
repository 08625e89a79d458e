"""Layer boundaries and the per-layer figures of a traced run.

Span names are ``<layer>.<call>``; the op-level span is ``op``:

- ``catalog.*`` - ``catalog.load`` / ``load_parallel`` / ``load_dim`` /
  ``gate_broadcast``, wrapped for the traced run;
- ``plans.build`` - the ``QUERIES[key]`` call; ``plans.plan`` - forcing
  the executed plan;
- ``operators.exec`` - the noop-sink write;
- ``pipeline.run`` - ``pipeline.run_pipeline``; ``sources.*`` - the CSV
  read and the CSV / SQLite writes it calls, wrapped;
- ``streaming.epoch`` - from the epoch file landing to
  ``processAllAvailable()`` returning with it committed.

A layer's time is the sum of the self times of its spans.
"""

from __future__ import annotations

import importlib

from perfbench.spans import self_times

WRAPPED = {
    "catalog": {
        "load": "catalog.load",
        "load_parallel": "catalog.load_parallel",
        "load_dim": "catalog.load_dim",
        "gate_broadcast": "catalog.gate_broadcast",
    },
    "pipeline": {
        "read_csv_normalized": "sources.read_csv",
        "write_csv": "sources.write_csv",
        "write_sqlite": "sources.write_sqlite",
    },
}

#: (name, unit) of every per-layer metric, in report order
METRICS = [
    ("session.start_s", "s"), ("session.peak_rss_mb", "MB"),
    ("catalog.load_calls", "count"), ("catalog.load_parallel_calls", "count"),
    ("catalog.load_s", "s"),
    ("plans.build_s", "s"), ("plans.build_jobs", "count"), ("plans.plan_s", "s"),
    ("operators.exec_s", "s"), ("operators.jobs", "count"),
    ("operators.stages", "count"), ("operators.tasks", "count"),
    ("operators.task_run_s", "s"), ("operators.gc_s", "s"),
    ("operators.slot_busy_frac", "fraction"),
    ("operators.shuffle_read_bytes", "bytes"), ("operators.shuffle_write_bytes", "bytes"),
    ("operators.spill_bytes", "bytes"), ("operators.task_skew", "ratio"),
    ("sources.read_csv_s", "s"), ("sources.write_csv_s", "s"),
    ("sources.write_sqlite_s", "s"), ("sources.sqlite_rows_per_s", "1/s"),
    ("sources.bytes_written", "bytes"),
    ("pipeline.jobs", "count"), ("pipeline.build_s", "s"), ("pipeline.input_scans", "ratio"),
    ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.epoch_jobs", "count"), ("streaming.admitted_frac", "fraction"),
    ("streaming.state_bytes", "bytes"), ("streaming.state_bytes_per_admitted", "bytes"),
    ("trace.overhead_s", "s"), ("trace.unattributed_max_frac", "fraction"),
]


def wrap_modules(tracer) -> None:
    for mod_name, fns in WRAPPED.items():
        module = importlib.import_module(f"b2b_data_pipeline_indiamart_spark.{mod_name}")
        for fname, span_name in fns.items():
            tracer.wrap(module, fname, span_name)


def per_layer(tracer, wl, cores: int, counters: dict, *, session_start_s: float,
              peak_rss_mb: float, overhead_s: float) -> dict:
    """Per-layer figures of the traced ops, as ``{name: (value, unit)}``.
    Times and counts are totals over the traced ops unless the name
    says otherwise; a layer the workload does not reach reads 0.
    ``counters`` holds the workload's own counts for the traced ops."""
    spans = tracer.spans
    st = self_times(spans)

    def named(prefix):
        return [s for s in spans if s["name"] == prefix or s["name"].startswith(prefix + ".")]

    def self_s(prefix):
        return sum(st[s["id"]] for s in named(prefix))

    def jobs(ss):
        return sum(len(s.get("jobs", [])) for s in ss)

    ops = [s for s in spans if s["parent"] is None]
    # execution figures: the noop write on the registry workloads; on the
    # others every job of the op runs inside the sinks or the epoch
    exec_spans = named("operators.exec") or [s for s in spans if s.get("jobs")]
    stages = [st_ for s in exec_spans for st_ in s.get("stages", [])]
    exec_time = sum(s["end"] - s["start"] for s in exec_spans)
    task_run_s = sum(x["run_ms"] for x in stages) / 1000
    worst = max(stages, key=lambda x: x["run_ms"], default=None)

    etl_spans = named("pipeline") + named("sources")
    etl_stages = [x for s in etl_spans for x in s.get("stages", [])]
    csv_in = counters.get("csv_bytes_in", 0)
    sqlite_s = self_s("sources.write_sqlite")

    epochs = named("streaming.epoch")
    progress = [s.get("progress", {}) for s in epochs]
    state_bytes, state_rows = wl.state_size() if hasattr(wl, "state_size") else (0, 0)

    unattributed = [
        st[o["id"]] / (o["end"] - o["start"]) for o in ops if o["end"] > o["start"]
    ]
    values = {
        "session.start_s": session_start_s,
        "session.peak_rss_mb": peak_rss_mb,
        "catalog.load_calls": len(named("catalog.load")),
        "catalog.load_parallel_calls": len(named("catalog.load_parallel")),
        "catalog.load_s": self_s("catalog"),
        "plans.build_s": self_s("plans.build"),
        "plans.build_jobs": jobs(named("plans.build") + named("catalog")),
        "plans.plan_s": self_s("plans.plan"),
        "operators.exec_s": self_s("operators.exec"),
        "operators.jobs": jobs(exec_spans),
        "operators.stages": len(stages),
        "operators.tasks": sum(x["tasks"] for x in stages),
        "operators.task_run_s": task_run_s,
        "operators.gc_s": sum(x["gc_ms"] for x in stages) / 1000,
        "operators.slot_busy_frac": task_run_s / (exec_time * cores) if exec_time else 0.0,
        "operators.shuffle_read_bytes": sum(x["shuffle_read_bytes"] for x in stages),
        "operators.shuffle_write_bytes": sum(x["shuffle_write_bytes"] for x in stages),
        "operators.spill_bytes": sum(x["spill_bytes"] for x in stages),
        "operators.task_skew": worst["skew"] if worst else 0.0,
        "sources.read_csv_s": self_s("sources.read_csv"),
        "sources.write_csv_s": self_s("sources.write_csv"),
        "sources.write_sqlite_s": sqlite_s,
        "sources.sqlite_rows_per_s": counters.get("sqlite_rows", 0) / sqlite_s if sqlite_s else 0.0,
        "sources.bytes_written": counters.get("bytes_written", 0),
        "pipeline.jobs": jobs(etl_spans),
        "pipeline.build_s": self_s("pipeline"),
        "pipeline.input_scans": sum(x["input_bytes"] for x in etl_stages) / csv_in if csv_in else 0.0,
        "streaming.trigger_s": sum(p.get("triggerExecution", 0) for p in progress) / 1000,
        "streaming.add_batch_s": sum(p.get("addBatch", 0) for p in progress) / 1000,
        "streaming.epoch_jobs": jobs(epochs) / len(epochs) if epochs else 0.0,
        "streaming.admitted_frac": counters.get("admitted", 0) / counters["docs"] if counters.get("docs") else 0.0,
        "streaming.state_bytes": state_bytes,
        "streaming.state_bytes_per_admitted": state_bytes / state_rows if state_rows else 0.0,
        "trace.overhead_s": overhead_s,
        "trace.unattributed_max_frac": max(unattributed, default=0.0),
    }
    return {name: (values[name], unit) for name, unit in METRICS}
