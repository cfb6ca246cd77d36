#!/usr/bin/env python3
"""The repository benchmark: dashboard, curation and ingest workloads.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

One closed-loop client in one process on ``local[<cores>]`` runs one op
at a time through the engine's public entry points
(``session.get_spark``, ``sources.catalog.load_tables``,
``registry.REGISTRY[name].builder`` + the noop sink, ``pipelines.*_etl``,
``streaming.windows.foreach_batch_upsert``,
``streaming.ingest.run_streaming_ingest``).

A run generates its inputs (``gen.py``; tables from a fixed data seed,
op order and upsert micro-batches from ``--seed``), starts the session, loads
the catalog, runs one untimed warm-up pass, then runs timed passes until
``--seconds`` have elapsed (at least three), then checks every op's output
from the last pass against the registry's DuckDB oracle (``oracle.py``).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log, a StreamingQueryListener and per-span job groups,
and reports the per-layer metrics. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it carries every metric with its unit and the run's details.
Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit; a traced run first writes its spans
and Spark event log to ``.perfbench_out/<workload>-<seed>/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "geoscale_healthflow_etl_django_analytics_spark"
DATA_SEED = 42  # the tables; --seed varies op order and upsert batches
DEFAULT_SF = 0.01
UPSERT_BATCHES = 3
# pass_s and op_p50_s are medians over passes; with three, one burst of
# load from other tenants of a shared host does not move them
MIN_PASSES = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "curation", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF, help="input scale factor")
    return ap.parse_args(argv)


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Bench:
    def __init__(self, args: argparse.Namespace, work: str) -> None:
        import workloads
        from tracing import Spans

        self.args = args
        self.work = work
        self.spans = Spans()
        self.ops = workloads.OPS[args.workload]
        self.rng = random.Random(args.seed)
        self.op_names: dict[str, str] = {}  # op tag -> op name
        self.spark = None
        self.recorder = None
        self.failures: list[str] = []

    # -- inputs ---------------------------------------------------------
    def make_inputs(self) -> float:
        import gen

        t0 = time.perf_counter()
        self.data_dir = os.path.join(self.work, "data")
        self.digest = gen.write_tables(self.data_dir, self.args.sf, DATA_SEED)
        self.inputs: dict = {}
        if self.args.workload == "ingest":
            self.inputs = {
                "events_dir": os.path.join(self.work, "arrivals", "events"),
                "docs_dir": os.path.join(self.work, "arrivals", "docs"),
            }
            gen.write_upsert_batches(
                self.inputs["events_dir"], self.args.sf, self.args.seed, UPSERT_BATCHES
            )
            gen.write_doc_arrivals(
                self.inputs["docs_dir"], os.path.join(self.data_dir, "documents.parquet")
            )
        return time.perf_counter() - t0

    # -- session --------------------------------------------------------
    def start(self) -> None:
        from geoscale_healthflow_etl_django_analytics_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.log_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.log_dir}",
                    "spark.eventLog.compress": "false",
                }
            )
        with self.spans.span("session"):
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = self.spark.sparkContext.defaultParallelism
        if self.args.trace:
            from tracing import StreamRecorder

            self.recorder = StreamRecorder()
            self.spark.streams.addListener(self.recorder)

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None

    def group(self, tag: str, phase: str) -> None:
        if self.args.trace:
            self.spark.sparkContext.setJobGroup(f"pb/{tag}/{phase}", tag)

    # -- ops ------------------------------------------------------------
    def run_op(self, tag: str, name: str):
        """One op; returns (result, ok). ``tag`` names the pass and op."""
        import workloads

        if self.recorder is not None:
            self.recorder.current_op = tag
        try:
            if self.args.workload == "ingest":
                out = os.path.join(self.work, "out", tag.split("/")[0])
                with self.spans.span("call", op_id=tag):
                    self.group(tag, workloads.INGEST_PHASE[name])
                    res = workloads.run_ingest_op(self.spark, name, self.data_dir, self.inputs, out)
                return res, True
            from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

            with self.spans.span("build", op_id=tag):
                self.group(tag, "build")
                df = REGISTRY[name].builder(self.spark, self.data_dir)
            with self.spans.span("sink", op_id=tag):
                self.group(tag, "exec")
                df.write.format("noop").mode("overwrite").save()
            return df, True
        except Exception:
            self.failures.append(f"{tag} {name}: {traceback.format_exc(limit=3)}")
            return None, False

    def run_pass(self, label: str) -> dict[str, tuple]:
        """One pass over the workload's ops; dashboard and curation ops
        run in a fresh seeded order each pass, so an op's latency is
        not tied to one predecessor."""
        ops = list(self.ops)
        if self.args.workload != "ingest":
            self.rng.shuffle(ops)
        results = {}
        with self.spans.span("pass", op_id=label):
            for k, name in enumerate(ops):
                tag = f"{label}/{k}"
                self.op_names[tag] = name
                with self.spans.span("op", op_id=tag) as s:
                    res, ok = self.run_op(tag, name)
                results[name] = (res, ok, s.dur)
        return results

    # -- checks ---------------------------------------------------------
    def check(self, last: dict[str, tuple], expected) -> set[str]:
        """Names of ops whose last-pass output is wrong."""
        import workloads
        from oracle import value_hash

        from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

        bad = set()
        for k, (name, (res, ok, _)) in enumerate(last.items()):
            if not ok:
                continue
            self.group(f"check/{k}", "check")
            try:
                if self.args.workload == "ingest":
                    problems = workloads.check_ingest_op(name, res, expected, self.inputs)
                else:
                    got = value_hash(res.toPandas())
                    problems = [] if got == expected.get(REGISTRY[name].oracle) else [
                        f"{name}: value hash differs from the oracle"
                    ]
            except Exception:
                problems = [f"{name}: check raised {traceback.format_exc(limit=3)}"]
            if problems:
                bad.add(name)
                self.failures += problems
        return bad

    # -- the run --------------------------------------------------------
    def run(self) -> int:
        from oracle import Expected

        gen_s = self.make_inputs()
        with self.spans.span("setup"):
            self.start()
            from geoscale_healthflow_etl_django_analytics_spark.sources import catalog

            with self.spans.span("catalog"):
                catalog.load_tables(self.spark, self.data_dir)
            self.run_pass("warm")
        setup_s = time.perf_counter() - _T0 - gen_s

        passes = []
        t_measure = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t_measure < self.args.seconds:
            passes.append(self.run_pass(f"t{len(passes)}"))

        with self.spans.span("check"):
            expected = Expected(self.data_dir, self.digest)
            try:
                bad = self.check(passes[-1], expected)
            finally:
                expected.close()
            extra = self.layer_inputs(passes[-1])

        lat = [d for p in passes for (_, ok, d) in p.values() if ok]
        attempted = sum(len(p) for p in passes)
        failed = sum(1 for p in passes for n, (_, ok, _) in p.items() if not ok or n in bad)
        pass_times = [s.dur for s in self.spans.spans if s.name == "pass" and s.op_id != "warm"]
        e2e = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(pass_times), "s"),
            "op_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        }
        rss = vm_hwm_mb(self.jvm_pid())
        if self.recorder is not None:
            self.recorder.drain()
        self.stop()

        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "sf": self.args.sf,
            "trace": self.args.trace,
            "passes": len(passes),
            "ops_per_pass": len(self.ops),
            "op_samples": len(lat),
            "fail_frac": (failed / attempted, "1"),
            "bench.gen_s": (gen_s, "s"),
            "oracle_s": round(expected.oracle_s, 3),
            "op_latency_s": {
                n: [round(p[n][2], 3) for p in passes] for n in self.ops
            },
            **e2e,
        }
        result_metrics = e2e
        if self.args.trace:
            import layers

            per_layer = layers.per_layer(self, passes, extra, rss, gen_s, e2e)
            detail.update(per_layer)
            detail["self_time_s"] = {k: round(v, 3) for k, v in self.spans.self_times().items()}
            result_metrics = per_layer
            self.write_trace()
        if self.failures:
            detail["failures"] = self.failures
            for f in self.failures:
                print(f, file=sys.stderr)
        print(json.dumps({"detail": _render(detail)}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result_metrics.items()},
                }
            )
        )
        return 0

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else os.getpid()

    def layer_inputs(self, last: dict[str, tuple]) -> dict:
        """On-disk facts about the last pass that the per-layer and
        ingest metrics need, read while the outputs still exist."""
        import workloads

        if self.args.workload != "ingest":
            return {}
        out = os.path.join(self.work, "out", self._last_label())
        _, staging_files = workloads.tree_bytes_files(os.path.join(out, "staging"))
        out_bytes, _ = workloads.tree_bytes_files(out)
        target_bytes, _ = workloads.tree_bytes_files(os.path.join(out, "upsert", "target"))
        accepted = workloads.parquet_rows(last["run_streaming_ingest"][0])
        arrived = workloads.parquet_rows(self.inputs["docs_dir"])
        return {
            "write.files": staging_files,
            "stored_bytes": out_bytes,
            "input_bytes": workloads.ingest_input_bytes(self.data_dir, self.inputs),
            "target_bytes": target_bytes,
            "accept_ratio": accepted / arrived if arrived else 0.0,
        }

    def _last_label(self) -> str:
        return [s.op_id for s in self.spans.spans if s.name == "pass"][-1]

    def write_trace(self) -> None:
        out = os.path.join(ROOT, ".perfbench_out", f"{self.args.workload}-{self.args.seed}")
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.log_dir, os.path.join(out, "eventlog"))
        self.spans.dump(os.path.join(out, "spans.json"))


def _render(detail: dict) -> dict:
    """Metric tuples as {"value", "unit"}; everything else unchanged."""
    return {
        k: {"value": v[0], "unit": v[1]} if isinstance(v, tuple) else v
        for k, v in detail.items()
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None
    bench = None
    try:
        bench = Bench(args, work)
        return bench.run()
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


if __name__ == "__main__":
    sys.exit(main())
