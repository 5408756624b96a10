"""Benchmark of the engine's closed-loop workloads.

    python3 loadbench/run.py --workload sqlite_sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one client: operations
run back to back on ``local[<=4]``.  Set-up starts the session three
times (the median start counts) and then runs the workload's own set-up,
which ends with one warm-up operation; ``setup_s`` is the sum.  Then
operations run until ``--seconds`` have passed and at least one has
succeeded, and every output is checked.  Workloads: ``sqlite_sync`` and
``corpus_build`` (listed in BENCHMARK.json) and ``migrate_bulk`` (not
listed while the export it runs loses rows; see CHANGES.md).

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` installs
spans around the engine's functions, records a Spark event log and
reports the per-layer metrics, plus how far its end-to-end figures sit
from the last untraced run of the same workload (the tracing overhead).

Inputs, sinks, Spark scratch space and event logs live in ``.loadbench/``
at the checkout root.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".loadbench")
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
SESSION_STARTS = 3
MIN_OK_OPS = 1
MB = 1 << 20

END_TO_END = {"docs_per_s": "1/s", "op_p50_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}

# Per-layer metrics.  A span name's metric is the time spent inside
# spans of that name per operation; jobs are counted in the subtree.
SPAN_SECONDS = {
    "porter.export_s": "porter.export",
    "plans.infer_s": "plans.infer",
    "sync.batch_df_s": "sync.batch_df",
    "sync.high_water_s": "sync.high_water",
    "jdbc.upsert_s": "jdbc.upsert",
    "jdbc.ddl_s": "jdbc.ddl",
    "operators.plan_s": "operators.plan",
    "staging.write_s": "staging.write",
    "pipelines.corpus_s": "pipelines.corpus",
    "operators.dedup_s": "operators.dedup",
    "operators.near_dedup_s": "operators.near_dedup",
    "operators.passage_dedup_s": "operators.passage_dedup",
    "operators.decontam_s": "operators.decontam",
    "operators.bpe_s": "operators.bpe",
    "operators.pack_s": "operators.pack",
    "lake.shards_s": "lake.shards",
}
SUBTREE_JOBS = {"porter.export_jobs": "porter.export", "plans.infer_jobs": "plans.infer",
                "staging.jobs": "staging.write"}
PER_LAYER = {
    **{m: "s" for m in SPAN_SECONDS},
    **{m: "count" for m in SUBTREE_JOBS},
    "plans.ddl_statements": "count",
    "sync.batches": "count",
    "mongodb.docs_read": "count",
    "sync.read_amp": "ratio",
    "jdbc.upsert_rows": "count",
    "jdbc.upsert_rows_per_s": "1/s",
    "pipelines.stage_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_only_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "session.start_s": "s",
}
# Which layers each workload calls; a layer's metrics read 0 elsewhere.
# First matching prefix wins.
LAYER_OF = [("operators.plan", "porter"), ("porter.", "porter"), ("plans.", "porter"),
            ("sync.", "sync"), ("mongodb.", "sync"), ("jdbc.", "sync"),
            ("staging.", "staging"), ("pipelines.", "corpus"), ("lake.", "corpus"),
            ("operators.", "corpus")]
LAYERS = {"migrate_bulk": {"porter", "staging"}, "sqlite_sync": {"porter", "sync"},
          "corpus_build": {"corpus"}}


def pin_environment() -> None:
    """Fix the knobs that change what is measured, and keep every scratch
    file inside the work directory."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_BUILD_THREADS", None)   # measure the serial default
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the engine and this directory's modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def short_error(exc: BaseException) -> str:
    """The line naming the root cause, e.g. the sqlite error raised in a
    Spark task, instead of the whole JVM/Python stack."""
    text = str(exc)
    for line in reversed(text.splitlines()):
        if "sqlite3." in line and "Error" in line:
            return line.strip()
    lines = [ln.strip() for ln in text.splitlines() if ln.strip()]
    return f"{type(exc).__name__}: {lines[0] if lines else ''}"[:400]


def stop_jvm() -> None:
    """Stop the JVM this process launched and wait until it has ended:
    closing its stdin is the gateway's signal to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args) -> None:
        import spans
        import workloads

        self.spans_mod, self.wl_mod = spans, workloads
        self.args = args
        self.trace = bool(args.trace)
        self.wl = workloads.WORKLOADS[args.workload](WORK, args.seed, trace=self.trace)
        self.tracer = spans.Tracer() if self.trace else None
        self.event_dir = os.path.join(WORK, f"eventlog-{os.getpid()}") if self.trace else None
        self.ops: list[dict] = []
        self.session_starts: list[float] = []
        self.setup_rest = 0.0
        self.check_errors: list[str] = []
        self.spark = None

    def span(self, name, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def _stop(self) -> None:
        if self.tracer:
            self.tracer.set_context(None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start_session(self) -> None:
        """Start (or restart) the session and record how long it took."""
        self._stop()
        with self.span("setup.session"):
            t0 = time.perf_counter()
            self.spark = self.wl_mod.start_session(WORK, self.event_dir, DRIVER_MEMORY)
            self.session_starts.append(time.perf_counter() - t0)
        if self.tracer:
            self.tracer.set_context(self.spark.sparkContext)

    def setup(self) -> None:
        """Session start SESSION_STARTS times (the median counts), then the
        workload's own set-up and one warm-up operation in the last session."""
        for _ in range(SESSION_STARTS):
            self.start_session()
        with self.span("setup"):
            t0 = time.perf_counter()
            self.wl.setup(self.spark)
            self.setup_rest = time.perf_counter() - t0
        self.check_errors += [f"set-up: {e}" for e in self.wl.warmup_check()]

    def measure(self) -> None:
        begin = time.perf_counter()
        op = 0
        while True:
            elapsed = time.perf_counter() - begin
            ok = sum(o["ok"] for o in self.ops)
            # at least MIN_OK_OPS successes, within 3x the budget
            if elapsed >= self.args.seconds and (ok >= MIN_OK_OPS or elapsed >= 3 * self.args.seconds):
                break
            self.wl.prepare(op)
            before = dict(self.tracer.counters) if self.tracer else {}
            rec = {"op": op, "ok": False, "error": None, "docs": 0}
            with self.span("op", op=op) as s:
                t = time.perf_counter()
                try:
                    rec["docs"] = self.wl.run(op)
                except Exception as exc:  # an engine failure is a failed op
                    rec["error"] = short_error(exc)
                rec["seconds"] = time.perf_counter() - t
            if rec["error"] is None:
                errors = self.wl.check(op)
                if errors:
                    rec["error"] = "check failed: " + "; ".join(errors)
                    self.check_errors += [f"op {op}: {e}" for e in errors]
                else:
                    rec["ok"] = True
            else:
                self.spark.catalog.clearCache()  # a failed export leaves its cache behind
            if self.tracer:
                rec["span"] = s["id"]
                rec["counters"] = {k: v - before.get(k, 0) for k, v in self.tracer.counters.items()}
                rec["counters"].update(getattr(self.wl, "op_counters", dict)())
            self.ops.append(rec)
            op += 1

    def execute(self) -> dict:
        stats = ", ".join(f"{k}={v}" for k, v in self.wl.stats.items())
        print(f"input {self.args.workload} seed={self.args.seed}: {stats}")
        if self.tracer:
            shutil.rmtree(self.event_dir, ignore_errors=True)
            os.makedirs(self.event_dir)
            self.tracer.install()
            if hasattr(self.wl, "sink"):
                self.wl.sink = self.tracer.wrap(self.wl.sink, "staging.write")
        try:
            with self.spans_mod.PeakRss() as rss:
                self.setup()
                self.measure()
                rss.sample()
                self._stop()
        finally:
            if self.tracer:
                self.tracer.uninstall()
            self._stop()
            stop_jvm()
        ok = [o for o in self.ops if o["ok"]]
        times = [o["seconds"] for o in ok]
        metrics = {
            "docs_per_s": sum(o["docs"] for o in ok) / sum(times) if times else 0.0,
            "op_p50_s": median(times),
            "peak_rss_mb": rss.peak_bytes / MB,
            "setup_s": median(self.session_starts) + self.setup_rest,
        }
        self.report_ops(metrics, len(times))
        if not self.tracer:
            with open(os.path.join(WORK, f"last-{self.args.workload}.json"), "w") as fh:
                json.dump({"seed": self.args.seed, "metrics": metrics}, fh)
            return {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END.items()}
        layer = self.layer_metrics(ok)
        shutil.rmtree(self.event_dir, ignore_errors=True)
        self.report_overhead(metrics)
        self.tracer.dump(os.path.join(WORK, f"spans-{self.args.workload}-s{self.args.seed}.json"))
        return {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER.items()}

    # ------------------------------------------------------------ report

    def report_ops(self, m: dict, n_ok: int) -> None:
        for o in self.ops:
            status = "ok" if o["ok"] else f"FAILED: {o['error']}"
            print(f"op {o['op']:3d} {o['seconds']:8.3f} s  docs={o['docs']}  {status}")
        for e in self.check_errors:
            print(f"check failed: {e}")
        print(f"set-up: session starts {', '.join(f'{s:.3f}' for s in self.session_starts)} s "
              f"(median counts), then workload set-up and warm-up op {self.setup_rest:.3f} s")
        print(f"ops: {len(self.ops)} attempted, {n_ok} ok; op_p50_s={m['op_p50_s']:.4f} over "
              f"{n_ok} samples (p90 needs >= 100 samples, not reported); "
              f"docs_per_s={m['docs_per_s']:.2f}; peak_rss_mb={m['peak_rss_mb']:.1f}; "
              f"setup_s={m['setup_s']:.3f}")

    def report_overhead(self, traced: dict) -> None:
        path = os.path.join(WORK, f"last-{self.args.workload}.json")
        if not os.path.exists(path):
            print("tracing overhead: no untraced run of this workload in this checkout yet")
            return
        with open(path) as fh:
            base = json.load(fh)
        parts = [f"{k} {traced[k]:.4g} vs {v:.4g} ({(traced[k] - v) / v:+.1%})"
                 for k, v in base["metrics"].items() if v]
        print(f"tracing overhead vs untraced run (seed {base['seed']}): " + "; ".join(parts))

    def layer_metrics(self, ok: list[dict]) -> dict:
        sp = self.spans_mod
        spans = self.tracer.spans
        events = sp.read_event_logs(self.event_dir)
        by_span = sp.spark_by_span(events)
        selfs = sp.self_times(spans)
        roots = {s["id"]: sp.root_of(spans, s["id"]) for s in spans}
        names_above = {s["id"]: {spans[a]["name"] for a in sp.ancestors(spans, s["id"])}
                       for s in spans}
        per_op = []
        table: dict[str, dict] = {}
        for o in ok:
            root = spans[o["span"]]
            ids = [i for i, r in roots.items() if r == o["span"]]
            op_s = root["end"] - root["start"]
            m = {k: sp.inclusive_seconds(spans, ids, n) for k, n in SPAN_SECONDS.items()}
            for k, n in SUBTREE_JOBS.items():
                m[k] = sum(by_span.get(i, {}).get("jobs", 0) for i in ids if n in names_above[i])
            m["pipelines.stage_jobs"] = sum(by_span.get(i, {}).get("jobs", 0) for i in ids
                                            if spans[i]["name"] == "pipelines.corpus")
            tot = {k: sum(by_span.get(i, {}).get(k, 0) for i in ids)
                   for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                             "shuffle_read_b", "shuffle_write_b", "spill_b")}
            job_iv = [(j["submit"], j["end"] or root["end"]) for j in events["jobs"].values()
                      if j["span"] is not None and roots.get(j["span"]) == o["span"]]
            c = o.get("counters", {})
            m.update({
                "plans.ddl_statements": c.get("plans.ddl_statements", 0),
                "sync.batches": sum(1 for i in ids if spans[i]["name"] == "sync.batch_df"),
                "mongodb.docs_read": c.get("mongodb.docs_read", 0),
                "sync.read_amp": (c["mongodb.docs_read"] / o["docs"]
                                  if "mongodb.docs_read" in c and o["docs"] else 0.0),
                "jdbc.upsert_rows": c.get("jdbc.upsert_rows", 0),
                "spark.jobs": tot["jobs"], "spark.stages": tot["stages"],
                "spark.tasks": tot["tasks"],
                "spark.driver_only_s": op_s - sp.covered(job_iv, root["start"], root["end"]),
                "spark.executor_run_s": tot["run_s"], "spark.executor_cpu_s": tot["cpu_s"],
                "spark.core_util": tot["run_s"] / (CPUS * op_s),
                "spark.shuffle_read_mb": tot["shuffle_read_b"] / MB,
                "spark.shuffle_write_mb": tot["shuffle_write_b"] / MB,
                "spark.spill_mb": tot["spill_b"] / MB,
                "spark.gc_s": tot["gc_s"],
            })
            m["jdbc.upsert_rows_per_s"] = (m["jdbc.upsert_rows"] / m["jdbc.upsert_s"]
                                           if m["jdbc.upsert_s"] else 0.0)
            per_op.append(m)
            for i in ids:
                row = table.setdefault(spans[i]["name"], {"calls": 0, "incl_s": 0.0, "self_s": 0.0})
                row["calls"] += 1
                row["incl_s"] += spans[i]["end"] - spans[i]["start"]
                row["self_s"] += selfs[i]
                for k, v in by_span.get(i, {}).items():
                    row[k] = row.get(k, 0) + v
        out = {k: median([m[k] for m in per_op]) for k in PER_LAYER if k != "session.start_s"}
        out["session.start_s"] = median([s["end"] - s["start"] for s in spans
                                         if s["name"] == "session.start"])
        self.report_layers(out, table, len(per_op))
        return out

    def report_layers(self, out: dict, table: dict, n: int) -> None:
        print(f"per-span totals per successful op (mean over {n} ops; self = span minus children):")
        print(f"  {'span':26s} {'calls':>6s} {'incl_s':>8s} {'self_s':>8s} {'jobs':>6s} "
              f"{'stages':>6s} {'tasks':>6s} {'run_s':>7s} {'cpu_s':>7s} {'shrd_mb':>8s} "
              f"{'shwr_mb':>8s} {'spill_mb':>8s} {'gc_s':>6s}")
        for name, r in sorted(table.items(), key=lambda kv: -kv[1]["incl_s"]):
            g = lambda k: r.get(k, 0) / max(n, 1)  # noqa: E731
            print(f"  {name:26s} {g('calls'):6.1f} {g('incl_s'):8.3f} {g('self_s'):8.3f} "
                  f"{g('jobs'):6.1f} {g('stages'):6.1f} {g('tasks'):6.1f} {g('run_s'):7.3f} "
                  f"{g('cpu_s'):7.3f} {g('shuffle_read_b') / MB:8.3f} "
                  f"{g('shuffle_write_b') / MB:8.3f} {g('spill_b') / MB:8.3f} {g('gc_s'):6.3f}")
        used = LAYERS[self.args.workload]
        for k in PER_LAYER:
            layer = next((name for p, name in LAYER_OF if k.startswith(p)), None)
            if layer and layer not in used:
                print(f"  {k}: absent, {self.args.workload} does not call the {layer} layer; "
                      f"reported as 0")
            else:
                print(f"  {k} = {out[k]:.6g} {PER_LAYER[k]} (median per op)")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("migrate_bulk", "sqlite_sync", "corpus_build"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mongo2mysql_spark")):
        print(f"error: engine package mongo2mysql_spark not found in {ROOT}", file=sys.stderr)
        return 2
    pin_environment()
    import pyspark

    print(f"environment: nproc={os.cpu_count()} local[{CPUS}] driver_memory={DRIVER_MEMORY} "
          f"python={platform.python_version()} pyspark={pyspark.__version__} "
          f"SPARK_GRAFT_BUILD_THREADS=unset")
    try:
        run = Run(args)
        metrics = run.execute()
    except Exception:
        traceback.print_exc()
        return 1
    failed = sum(not o["ok"] for o in run.ops)
    print(json.dumps({"correct": not run.check_errors, "attempted": len(run.ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
