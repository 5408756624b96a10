"""The three workloads: per-session set-up, one timed operation, and the
checks run on every operation's output.

Each workload object is built once per run from ``(work dir, seed)``.
``setup(spark)`` runs inside the timed set-up and ends with one warm-up
operation; ``warmup_check()`` checks that operation's output, untimed.
``prepare(op)`` and ``check(op)`` run untimed around the timed
``run(op)``.  ``run`` returns the number of source documents the
operation processed.  Checks return a list of failures; an empty list
means the output is right.
"""

from __future__ import annotations

import bisect
import functools
import hashlib
import json
import os
import re
import shutil
import sqlite3

import gen
import spans

from mongo2mysql_spark import pipelines, porter, session, sync
from mongo2mysql_spark.sources import jdbc, parquet


def start_session(work: str, trace_dir: str | None, heap: str):
    """Engine session with every scratch location inside ``work``.

    The Spark driver heap is committed and touched up front (``-Xms`` equal to
    the maximum, ``AlwaysPreTouch``): otherwise how far G1 grows the heap
    varies run to run, and peak resident memory with it.  Heap pressure
    still shows, as GC time in the operations."""
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{heap} -XX:+AlwaysPreTouch",
    }
    if trace_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + trace_dir,
                     "spark.eventLog.compress": "false"})
    return session.build_session(app_name="loadbench", extra_conf=conf)


def parquet_sink(out_dir: str):
    """The CLI's ``--output-dir`` staging sink."""
    def sink(table, df):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet"))
    return sink


def read_column(path: str, column: str) -> list:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=[column]).column(column).to_pylist()


class MigrateBulk:
    """``SparkPorter.run`` over a seeded Mongo-shaped database into the
    parquet staging sink, as ``cli --source-dir ... --output-dir`` does."""

    name = "migrate_bulk"

    def __init__(self, work: str, seed: int, trace: bool = False) -> None:
        self.src, plan = gen.cached(work, self.name, seed, gen.write_bulk)
        self.tables = plan["tables"]
        self.stats = plan["stats"]
        self.out = os.path.join(work, "out", self.name)
        self.sink = parquet_sink(self.out)

    def setup(self, spark) -> None:
        self.spark = spark
        self.prepare(-1)
        self.run(-1)

    def warmup_check(self) -> list[str]:
        return self.check(-1)

    def prepare(self, op: int) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def run(self, op: int) -> int:
        names = parquet.list_collections(self.src)
        collections = {n: parquet.load_table(self.spark, self.src, n) for n in names}
        self.exports = porter.SparkPorter(self.spark).run(collections, sink=self.sink)
        return self.stats["docs"]

    def check(self, op: int) -> list[str]:
        errors = []
        written = {f[: -len(".parquet")] for f in os.listdir(self.out)}
        if written != set(self.tables):
            errors.append(f"tables {sorted(written ^ set(self.tables))} differ from the plan")
        inferred = {t: s for e in self.exports.values() for t, s in e.schemas.items()}
        for t, plan in sorted(self.tables.items()):
            if inferred.get(t) != plan["types"]:
                got = inferred.get(t) or {}
                diff = {c: (got.get(c), plan["types"].get(c))
                        for c in set(got) | set(plan["types"])
                        if got.get(c) != plan["types"].get(c)}
                errors.append(f"{t}: inferred types differ (got, planted): {diff}")
            if t not in written:
                continue
            num = sorted(read_column(os.path.join(self.out, f"{t}.parquet"), "_num"))
            if len(num) != plan["rows"]:
                errors.append(f"{t}: {len(num)} rows, planted {plan['rows']}")
            elif num != list(range(1, len(num) + 1)):
                errors.append(f"{t}: _num is not 1..{len(num)}")
        return errors


class FakeCollection:
    """pymongo-shaped collection over a list of documents: ``find`` with
    an optional ``{_id: {"$gt": key}}`` filter, ``sort``, ``batch_size``.
    ``docs_read`` counts the documents its cursors returned."""

    def __init__(self, docs: list[dict]) -> None:
        self.docs = sorted(docs, key=lambda d: d["_id"])
        self.keys = [d["_id"] for d in self.docs]
        self.docs_read = 0

    def find(self, query: dict):
        start = 0
        if query:
            (field, cond), = query.items()
            if field != "_id" or set(cond) != {"$gt"}:
                raise ValueError(f"unsupported query {query!r}")
            start = bisect.bisect_right(self.keys, cond["$gt"])
        return _Cursor(self, start)


class _Cursor:
    def __init__(self, coll: FakeCollection, start: int) -> None:
        self.coll, self.start = coll, start

    def sort(self, field, direction):
        if field != "_id" or direction != 1:
            raise ValueError("only ascending _id order is supported")
        return self

    def batch_size(self, n):
        return self

    def __iter__(self):
        for d in self.coll.docs[self.start:]:
            self.coll.docs_read += 1
            yield d


def sqlite_ddl(factory):
    """The CLI's sqlite dialect shim: no index prefix lengths."""
    def run(stmts):
        jdbc.execute_ddl([re.sub(r"`\((\d+)\)", "`", s) for s in stmts], factory)
    return run


def _norm(v):
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return repr(float(v))
    return repr(v)


def table_digest(rows) -> tuple[int, str]:
    """(row count, order-independent checksum) of rows given as
    {column: value} dicts; NULLs and ``_num`` are left out."""
    acc = 0
    n = 0
    for row in rows:
        items = sorted((c, _norm(v)) for c, v in row.items() if v is not None and c != "_num")
        acc = (acc + int.from_bytes(hashlib.blake2b(repr(items).encode(), digest_size=8).digest(),
                                    "big")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


def sink_digests(db: str) -> dict[str, tuple[int, str]]:
    con = sqlite3.connect(db)
    try:
        names = [r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")]
        out = {}
        for t in names:
            cur = con.execute(f'SELECT * FROM "{t}"')
            cols = [d[0] for d in cur.description]
            out[t] = table_digest(dict(zip(cols, r)) for r in cur)
        return out
    finally:
        con.close()


class SqliteSync:
    """One ``sync.incremental_export`` of a new tail of documents into a
    sqlite sink that holds the initial export."""

    name = "sqlite_sync"

    def __init__(self, work: str, seed: int, trace: bool = False) -> None:
        self.seed = seed
        self.src, plan = gen.cached(work, self.name, seed, gen.write_sync)
        with open(os.path.join(self.src, "initial.jsonl")) as fh:
            self.initial = [json.loads(line) for line in fh]
        self.stats = plan["stats"]
        self.base = os.path.join(work, "out", "sqlite_sync_base.db")
        self.db = os.path.join(work, "out", "sqlite_sync.db")
        os.makedirs(os.path.dirname(self.db), exist_ok=True)
        # traced runs count the rows the sink connections change
        self.count_dir = os.path.join(work, "out", "sink-counts") if trace else None
        if self.count_dir:
            os.makedirs(self.count_dir, exist_ok=True)

    def _export(self, coll, db: str, batch: int) -> dict:
        factory = (spans.CountingConnect(db, self.count_dir) if self.count_dir
                   else functools.partial(sqlite3.connect, db))
        return sync.incremental_export(
            self.spark, coll, gen.SYNC_COLLECTION, porter.SparkPorter(self.spark), factory,
            batch_size=batch, ddl_executor=sqlite_ddl(factory))

    def setup(self, spark) -> None:
        """The initial export into an empty sink, in one cursor batch.  It
        runs the same ``incremental_export`` code as a resync, so it is
        also the warm-up operation."""
        self.spark = spark
        for f in (self.base, self.db):
            if os.path.exists(f):
                os.remove(f)
        self._export(FakeCollection(self.initial), self.base, len(self.initial))

    def prepare(self, op: int) -> None:
        if self.count_dir:
            spans.collect_counts(self.count_dir)
        shutil.copyfile(self.base, self.db)
        self.tail = gen.sync_tail(self.seed, op)
        self.coll = FakeCollection(self.initial + self.tail)
        self.result = None

    def run(self, op: int) -> int:
        self.result = self._export(self.coll, self.db, gen.SYNC_BATCH)
        return self.result["docs"]

    def op_counters(self) -> dict:
        out = {"mongodb.docs_read": self.coll.docs_read}
        if self.count_dir:
            out["jdbc.upsert_rows"] = spans.collect_counts(self.count_dir)
        return out

    def read_amp(self) -> float:
        return self.coll.docs_read / len(self.tail)

    def check(self, op: int) -> list[str]:
        errors = []
        if self.result["docs"] != len(self.tail):
            errors.append(f"synced {self.result['docs']} docs, appended {len(self.tail)}")
        if self.result["resumed_from"] != self.initial[-1]["_id"]:
            errors.append(f"resumed from {self.result['resumed_from']!r}, "
                          f"sink held up to {self.initial[-1]['_id']!r}")
        if self.read_amp() != 1.0:
            errors.append(f"read amplification {self.read_amp():.2f}, expected 1.00")
        want = {t: table_digest(rows) for t, rows in
                gen.model_tables(gen.SYNC_COLLECTION, self.initial + self.tail).items()}
        got = sink_digests(self.db)
        for t in sorted(set(want) | set(got)):
            if want.get(t) != got.get(t):
                errors.append(f"{t}: sink (rows, checksum) {got.get(t)} != one-shot {want.get(t)}")
        return errors

    def warmup_check(self) -> list[str]:
        """The initial export must equal the model of the initial docs."""
        want = {t: table_digest(rows) for t, rows in
                gen.model_tables(gen.SYNC_COLLECTION, self.initial).items()}
        got = sink_digests(self.base)
        return [f"initial export {t}: {got.get(t)} != {want.get(t)}"
                for t in sorted(set(want) | set(got)) if want.get(t) != got.get(t)]


def shard_digest(path: str) -> str:
    """Content hash of a shard tree keyed by shard directory (file names
    carry task-attempt ids; the bytes are the determinism contract)."""
    parts = []
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                with open(os.path.join(root, n), "rb") as fh:
                    parts.append((os.path.relpath(root, path), hashlib.sha256(fh.read()).hexdigest()))
    return hashlib.sha256(repr(sorted(parts)).encode()).hexdigest()


class CorpusBuild:
    """``pipelines.build_training_corpus`` with near-dedup, passage-dedup,
    decontamination against a planted benchmark set and BPE."""

    name = "corpus_build"
    config = dict(near_dedup=True, passage_dedup=True, n_merges=2, bpe_sample_docs=200,
                  seq_len=512, n_shards=4)

    def __init__(self, work: str, seed: int, trace: bool = False) -> None:
        self.src, self.plan = gen.cached(work, self.name, seed, gen.write_corpus)
        self.stats = self.plan["stats"]
        self.out = os.path.join(work, "out", self.name)
        self.digest = None

    def _input(self, op: int) -> tuple[str, dict]:
        """The warm-up (op -1) builds the smaller corpus of the same shape."""
        if op < 0:
            return os.path.join(self.src, "warmup"), self.plan["warmup"]
        return self.src, self.plan

    def setup(self, spark) -> None:
        self.spark = spark
        self.prepare(-1)
        self.run(-1)

    def warmup_check(self) -> list[str]:
        return self.check(-1)

    def prepare(self, op: int) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self, op: int) -> int:
        src = self._input(op)[0]
        docs = parquet.load_table(self.spark, src, "documents")
        bench = parquet.load_table(self.spark, src, "benchmark")
        self.report = pipelines.build_training_corpus(
            docs, self.out, benchmark=bench, config=pipelines.CorpusConfig(**self.config))
        return self.report["input_docs"]

    def check(self, op: int) -> list[str]:
        plan = self._input(op)[1]
        errors = []
        splits = {s: read_column(os.path.join(self.out, s), "doc_id")
                  for s in ("train", "val", "test")}
        kept = set()
        for s, ids in splits.items():
            if len(set(ids)) != len(ids):
                errors.append(f"{s}: repeated doc ids")
            if kept & set(ids):
                errors.append(f"{s}: overlaps an earlier split")
            kept |= set(ids)
        total = sum(len(v) for v in splits.values())
        if total != self.report.get("after_decontam"):
            errors.append(f"splits hold {total} docs, pipeline kept {self.report.get('after_decontam')}")
        for kind, groups in plan["groups"].items():
            bad = [g for g in groups if len(kept & set(g)) != 1]
            if bad:
                errors.append(f"{len(bad)} planted {kind} duplicate groups do not leave one survivor")
        left = kept & set(plan["contaminated"])
        if left:
            errors.append(f"{len(left)} contaminated docs survive")
        lost = set(plan["singles"]) - kept
        if lost:
            errors.append(f"{len(lost)} distinct docs were dropped")
        if op >= 0:
            digest = shard_digest(os.path.join(self.out, "train"))
            if self.digest is None:
                self.digest = digest
            elif digest != self.digest:
                errors.append("train shards differ from the first measured build's bytes")
        return errors


WORKLOADS = {w.name: w for w in (MigrateBulk, SqliteSync, CorpusBuild)}
