"""Per-layer metrics of a traced run.

Every count, byte and time is per timed pass (the total over the timed
passes divided by their number), so runs with different pass counts
compare. Spark work is taken only from stages whose job group names a
timed pass (``pb/t<N>/...``) or whose streaming query a timed op
started; warm-up and check jobs are left out. A layer a workload does
not exercise reads 0.
"""

from __future__ import annotations

import statistics

import tracing

UNITS = {
    "session.start_s": "s",
    "catalog.cold_load_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_stages": "count",
    "registry.build_tasks": "count",
    "registry.build_share": "ratio",
    "registry.cold_build_s": "s",
    "exec.sink_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    **{f"executor.{m}.{ph}": "s" for m in ("run_s", "cpu_s", "gc_s") for ph in tracing.PHASES},
    "executor.busy_ratio": "ratio",
    "scan.rows": "rows",
    "scan.bytes": "B",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "spill.memory_bytes": "B",
    "spill.disk_bytes": "B",
    "result.bytes": "B",
    "tasks.failed": "count",
    "driver.idle_s": "s",
    "driver.peak_rss_mb": "MB",
    "pipelines.etl_s": "s",
    "write.rows": "rows",
    "write.bytes": "B",
    "write.files": "count",
    "streaming.upsert_s": "s",
    "upsert.rewrite_ratio": "ratio",
    "streaming.ingest_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.input_rows": "rows",
    "ingest.accept_ratio": "ratio",
    "ingest.stored_bytes_per_input_byte": "ratio",
    "bench.gen_s": "s",
    "trace.pass_s": "s",
}


def per_layer(bench, passes, extra, rss_mb, gen_s, e2e) -> dict[str, tuple[float, str]]:
    n = len(passes)
    spans = bench.spans.spans
    rec = bench.recorder

    def span_sum(name, label_prefix="t", op=None) -> float:
        return sum(
            s.dur
            for s in spans
            if s.name == name
            and s.op_id
            and s.op_id.startswith(label_prefix)
            and (op is None or bench.op_names.get(s.op_id) in op)
        )

    # stream queries started by timed ops -> the op's name
    timed_query = {
        q: bench.op_names[tag] for q, tag in rec.query_op.items() if tag.startswith("t")
    }
    events = tracing.read_event_log(bench.log_dir)
    stages, jobs = tracing.stages(events)

    def phase_of(st: tracing.Stage) -> str | None:
        if st.query is not None:
            return "stream" if st.query in timed_query else None
        parts = st.group.split("/")
        if len(parts) == 4 and parts[0] == "pb" and parts[1].startswith("t"):
            return parts[3]
        return None

    timed = [(phase_of(s), s) for s in stages]
    timed = [(ph, s) for ph, s in timed if ph is not None]

    def tot(key, phase=None, query_op=None) -> float:
        return sum(
            s.m.get(key, 0.0)
            for ph, s in timed
            if (phase is None or ph == phase)
            and (query_op is None or timed_query.get(s.query) == query_op)
        ) / n

    def count_stages(phase=None) -> float:
        return sum(1 for ph, _ in timed if phase is None or ph == phase) / n

    def count_tasks(phase=None, field="tasks") -> float:
        return sum(getattr(s, field) for ph, s in timed if phase is None or ph == phase) / n

    def count_jobs(phase=None) -> float:
        total = 0
        for key, k in jobs.items():
            if key.startswith("q:"):
                ph = "stream" if key[2:] in timed_query else None
            else:
                parts = key.split("/")
                ph = parts[3] if len(parts) == 4 and parts[1].startswith("t") else None
            if ph is not None and (phase is None or ph == phase):
                total += k
        return total / n

    op_wall = span_sum("op") / n
    build_s = span_sum("build") / n
    pass_wall = sum(s.dur for s in spans if s.name == "pass" and s.op_id != "warm")
    intervals = [(s.start, s.end) for s in stages]
    idle = sum(
        tracing.idle_time(s.start, s.end, intervals)
        for s in spans
        if s.name == "op" and s.op_id.startswith("t")
    ) / n

    gate = [p for p in rec.progress if timed_query.get(p["query"]) == "run_streaming_ingest"]
    target_bytes = extra.get("target_bytes", 0)
    m: dict[str, float] = {
        "session.start_s": next(s.dur for s in spans if s.name == "session"),
        "catalog.cold_load_s": next(s.dur for s in spans if s.name == "catalog"),
        "registry.build_s": build_s,
        "registry.build_jobs": count_jobs("build"),
        "registry.build_stages": count_stages("build"),
        "registry.build_tasks": count_tasks("build"),
        "registry.build_share": build_s / op_wall if op_wall else 0.0,
        "registry.cold_build_s": span_sum("build", "warm"),
        "exec.sink_s": span_sum("sink") / n,
        "exec.jobs": count_jobs("exec"),
        "exec.stages": count_stages("exec"),
        "exec.tasks": count_tasks("exec"),
        "spark.jobs": count_jobs(),
        "spark.stages": count_stages(),
        "spark.tasks": count_tasks(),
        "executor.run_s": tot("run_ms") / 1e3,
        "executor.cpu_s": tot("cpu_ns") / 1e9,
        "executor.gc_s": tot("gc_ms") / 1e3,
        "executor.busy_ratio": tot("run_ms") / 1e3 * n / (pass_wall * bench.cores),
        "scan.rows": tot("scan_rows"),
        "scan.bytes": tot("scan_bytes"),
        "shuffle.write_bytes": tot("shuffle_write"),
        "shuffle.read_bytes": tot("shuffle_read"),
        "spill.memory_bytes": tot("spill_mem"),
        "spill.disk_bytes": tot("spill_disk"),
        "result.bytes": tot("result_bytes"),
        "tasks.failed": count_tasks(field="failed_tasks"),
        "driver.idle_s": idle,
        "driver.peak_rss_mb": rss_mb,
        "pipelines.etl_s": span_sum("op", op=("api_calculator_etl",)) / n,
        "write.rows": tot("write_rows", "write"),
        "write.bytes": tot("write_bytes", "write"),
        "write.files": extra.get("write.files", 0),
        "streaming.upsert_s": span_sum("op", op=("foreach_batch_upsert",)) / n,
        "upsert.rewrite_ratio": (
            tot("write_bytes", query_op="foreach_batch_upsert") / target_bytes
            if target_bytes
            else 0.0
        ),
        "streaming.ingest_s": span_sum("op", op=("run_streaming_ingest",)) / n,
        "streaming.batches": len(gate) / n,
        "streaming.batch_p50_s": statistics.median(p["trigger_s"] for p in gate) if gate else 0.0,
        "streaming.input_rows": sum(p["rows"] for p in gate) / n,
        "ingest.accept_ratio": extra.get("accept_ratio", 0.0),
        "ingest.stored_bytes_per_input_byte": (
            extra["stored_bytes"] / extra["input_bytes"] if extra.get("input_bytes") else 0.0
        ),
        "bench.gen_s": gen_s,
        "trace.pass_s": e2e["pass_s"][0],
    }
    for metric, key, scale in (("run_s", "run_ms", 1e3), ("cpu_s", "cpu_ns", 1e9), ("gc_s", "gc_ms", 1e3)):
        for ph in tracing.PHASES:
            m[f"executor.{metric}.{ph}"] = tot(key, ph) / scale
    return {k: (m[k], UNITS[k]) for k in UNITS}

