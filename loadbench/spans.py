"""Tracing from the benchmark's side: spans around calls into the
engine, Spark job attribution through an event log, and the arithmetic
that turns both into per-layer metrics.

Spans are kept in memory (``Tracer.spans``) and written out at the end
of a run.  Each engine function listed in ``HOOKS`` is replaced, for
the traced run only, by a wrapper that opens a span around the call and
tags the Spark jobs submitted inside it: the wrapper sets the local
property ``SPAN_PROPERTY`` to its span id, Spark copies local
properties into every JobStart and StageSubmitted event, so each job,
stage and task is attributed to the innermost span open when it was
submitted.  The Spark driver submits jobs from one thread, so that span is
unambiguous.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "loadbench.span"

# (module, attribute, span name).  The module is the one whose global the
# engine looks the name up in at call time, so replacing it there is
# enough.  "operators.components" is renamed to the dedup stage that
# called it most recently (near or passage).
HOOKS = [
    ("mongo2mysql_spark.session", "build_session", "session.start"),
    ("mongo2mysql_spark.porter", "SparkPorter.run", "porter.run"),
    ("mongo2mysql_spark.porter", "SparkPorter.export_collection", "porter.export"),
    ("mongo2mysql_spark.porter", "flatten", "operators.plan"),
    ("mongo2mysql_spark.porter", "add_table_column", "operators.plan"),
    ("mongo2mysql_spark.porter", "filter_skip_list", "operators.plan"),
    ("mongo2mysql_spark.porter", "table_too_wide", "operators.plan"),
    ("mongo2mysql_spark.porter", "spill_child", "operators.plan"),
    ("mongo2mysql_spark.porter", "add_num_two_phase", "operators.plan"),
    ("mongo2mysql_spark.porter", "infer_table_schema", "plans.infer"),
    ("mongo2mysql_spark.porter", "infer_table_schemas_grouped", "plans.infer"),
    ("mongo2mysql_spark.porter", "evolve_schema_sql", "plans.ddl"),
    ("mongo2mysql_spark.sync", "sink_high_water", "sync.high_water"),
    ("mongo2mysql_spark.sync", "iter_collection_batches", "mongodb.read_batch"),
    ("mongo2mysql_spark.sync", "_default_batch_df", "sync.batch_df"),
    ("mongo2mysql_spark.sync", "write_upsert", "jdbc.upsert"),
    ("mongo2mysql_spark.sources.jdbc", "execute_ddl", "jdbc.ddl"),
    ("mongo2mysql_spark.pipelines", "build_training_corpus", "pipelines.corpus"),
    ("mongo2mysql_spark.pipelines", "dedup_exact", "operators.dedup"),
    ("mongo2mysql_spark.pipelines", "remove_contaminated", "operators.decontam"),
    ("mongo2mysql_spark.pipelines", "word_freq_table", "operators.bpe"),
    ("mongo2mysql_spark.pipelines", "learn_merges", "operators.bpe"),
    ("mongo2mysql_spark.pipelines", "apply_merges", "operators.bpe"),
    ("mongo2mysql_spark.pipelines", "pack_sequences", "operators.pack"),
    ("mongo2mysql_spark.pipelines", "write_training_shards", "lake.shards"),
    ("mongo2mysql_spark.operators.dedup", "minhash_signature", "operators.near_dedup"),
    ("mongo2mysql_spark.operators.dedup", "lsh_candidate_pairs", "operators.near_dedup"),
    ("mongo2mysql_spark.operators.passages", "passage_dup_pairs", "operators.passage_dedup"),
    ("mongo2mysql_spark.operators.components", "connected_components", "operators.components"),
]


class Tracer:
    """In-memory spans plus named counters.  ``set_context`` gives the
    tracer the SparkContext whose jobs it tags; without one, spans are
    still recorded."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._sc = None
        self._restore: list[tuple[object, str, object]] = []
        self._dedup_stage = "operators.near_dedup"

    def set_context(self, sc) -> None:
        self._sc = sc

    def _tag(self, span_id) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, None if span_id is None else str(span_id))

    @contextmanager
    def span(self, name: str, **attrs):
        s = {"id": len(self.spans), "name": name,
             "parent": self._stack[-1] if self._stack else None,
             "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s["id"])
        self._tag(s["id"])
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def count(self, name: str, n: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    # ------------------------------------------------------------ hooks

    def wrap(self, fn, name: str):
        """``fn`` with a span called ``name`` around every call."""
        tracer = self
        if inspect.isgeneratorfunction(fn):
            @functools.wraps(fn)
            def gen(*a, **kw):
                it = fn(*a, **kw)
                while True:
                    with tracer.span(name):
                        try:
                            item = next(it)
                        except StopIteration:
                            return
                    yield item
            return gen

        @functools.wraps(fn)
        def call(*a, **kw):
            span_name = name
            if name in ("operators.near_dedup", "operators.passage_dedup"):
                tracer._dedup_stage = name
            elif name == "operators.components":
                span_name = tracer._dedup_stage
            with tracer.span(span_name):
                out = fn(*a, **kw)
            if name == "plans.ddl":
                tracer.count("plans.ddl_statements", len(out))
            return out
        return call

    def install(self, hooks=HOOKS) -> None:
        """Replace every hooked engine attribute by its traced wrapper."""
        for module, attr, name in hooks:
            owner = importlib.import_module(module)
            *path, last = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            original = owner.__dict__[last]
            self._restore.append((owner, last, original))
            setattr(owner, last, self.wrap(original, name))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": self.counters}, fh)


# ------------------------------------------------------- span arithmetic


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], ()), s["start"], s["end"])
            for s in spans}


def root_of(spans: list[dict], span_id: int | None) -> int | None:
    """The outermost ancestor of ``span_id``."""
    while span_id is not None and spans[span_id]["parent"] is not None:
        span_id = spans[span_id]["parent"]
    return span_id


def ancestors(spans: list[dict], span_id: int | None):
    """``span_id`` and every span enclosing it, innermost first."""
    while span_id is not None:
        yield span_id
        span_id = spans[span_id]["parent"]


def inclusive_seconds(spans: list[dict], ids, name: str) -> float:
    """Time inside spans called ``name`` among ``ids``, counting a span
    nested in another of the same name once."""
    total = 0.0
    for i in ids:
        s = spans[i]
        if s["name"] != name:
            continue
        if any(spans[a]["name"] == name for a in ancestors(spans, s["parent"])):
            continue
        total += s["end"] - s["start"]
    return total


# ------------------------------------------------------------- event log


def _span_of(props) -> int | None:
    v = (props or {}).get(SPAN_PROPERTY)
    return int(v) if v not in (None, "") else None


def parse_event_log(lines) -> dict:
    """Jobs, stages and task totals from Spark event-log JSON lines.

    Returns ``{"jobs": {job id: {span, submit, end}}, "stages": {(stage,
    attempt): {span, tasks, run_s, cpu_s, gc_s, shuffle_read_b,
    shuffle_write_b, spill_b}}}``; times are epoch seconds.  Tasks count
    against the attempt of the stage they ran in, and so against the
    span that submitted it."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"span": _span_of(ev.get("Properties")),
                                  "submit": ev["Submission Time"] / 1000.0, "end": None}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                "span": _span_of(ev.get("Properties")), "tasks": 0, "run_s": 0.0,
                "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_b": 0, "shuffle_write_b": 0,
                "spill_b": 0,
            }
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            m = ev.get("Task Metrics")
            if st is None or not m:
                continue
            rd = m.get("Shuffle Read Metrics", {})
            st["tasks"] += 1
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            st["shuffle_read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st["shuffle_write_b"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stages": stages}


def read_event_logs(directory: str) -> dict:
    """Merge the event logs of every application in ``directory`` (a
    plain file per application, or a directory of rolled ``events_*``
    files).  Spark numbers jobs and stages per application, so keys are
    prefixed by the application's position."""
    merged: dict = {"jobs": {}, "stages": {}}
    for n, name in enumerate(sorted(os.listdir(directory))):
        path = os.path.join(directory, name)
        files = ([path] if os.path.isfile(path) else
                 [os.path.join(path, f) for f in sorted(os.listdir(path))
                  if f.startswith("events_")])
        lines = []
        for f in files:
            with open(f) as fh:
                lines += fh.readlines()
        part = parse_event_log(lines)
        merged["jobs"].update({(n, k): v for k, v in part["jobs"].items()})
        merged["stages"].update({(n, *k): v for k, v in part["stages"].items()})
    return merged


MB = 1 << 20


def spark_by_span(events: dict) -> dict[int | None, dict]:
    """Span id -> jobs, stages, tasks and task-metric totals attributed to it."""
    out: dict[int | None, dict] = {}

    def slot(span):
        return out.setdefault(span, {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
                                     "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_b": 0,
                                     "shuffle_write_b": 0, "spill_b": 0})

    for j in events["jobs"].values():
        slot(j["span"])["jobs"] += 1
    for st in events["stages"].values():
        o = slot(st["span"])
        o["stages"] += 1
        for k, v in st.items():
            if k != "span":
                o[k] += v
    return out


# -------------------------------------------------------------- sink rows


class CountingConnect:
    """``sqlite3.connect(db)`` stand-in for a connection factory that
    records how many rows each connection's statements changed: on
    close, a connection that changed rows writes the count to a new file
    in ``count_dir``.  Picklable, so executor-side writes are counted."""

    def __init__(self, db: str, count_dir: str) -> None:
        self.db, self.count_dir = db, count_dir

    def __call__(self):
        import sqlite3

        return _CountingConnection(sqlite3.connect(self.db), self.count_dir)


class _CountingConnection:
    def __init__(self, con, count_dir: str) -> None:
        self.con, self.count_dir = con, count_dir

    def cursor(self):
        return self.con.cursor()

    def commit(self) -> None:
        self.con.commit()

    def close(self) -> None:
        n = self.con.total_changes
        self.con.close()
        if n:
            import uuid

            with open(os.path.join(self.count_dir, uuid.uuid4().hex), "w") as fh:
                fh.write(str(n))


def collect_counts(count_dir: str) -> int:
    """Sum and remove the counts ``CountingConnect`` connections wrote."""
    total = 0
    for name in os.listdir(count_dir):
        path = os.path.join(count_dir, name)
        with open(path) as fh:
            total += int(fh.read())
        os.remove(path)
    return total


# ------------------------------------------------------------------ memory


class PeakRss:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc.

    Forked Python workers share most of their pages with the daemon they
    were forked from, so summing their RSS counts those pages once per
    worker, and the sum would swing with how many workers happen to be
    alive.  Processes under ``PSS_BELOW`` bytes are counted by their
    proportional set size instead; larger ones (the JVM) share almost
    nothing and an smaps walk over them costs milliseconds, so their RSS
    is used."""

    PSS_BELOW = 512 * MB

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> set[int]:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return tree

    def _resident(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * self._page
            if rss >= self.PSS_BELOW:
                return rss
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, sum(self._resident(p) for p in self._tree()))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)
