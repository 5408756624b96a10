"""The benchmark's own tests: seeded inputs, span arithmetic, the event-log
parser, and that every check rejects a planted wrong output.  None of
them starts Spark.

    python3 -m pytest loadbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sqlite3

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import spans
import workloads

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SMALL_BULK = {"objects": 60, "events": 30, "devices": 8}
SMALL_CORPUS = dict(n_base=40, groups=3, n_contaminated=3, n_bench=4)


# ------------------------------------------------------------ seeded inputs


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


def test_same_seed_same_bulk_input(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d in (a, b, c):
        d.mkdir()
    pa_ = gen.write_bulk(str(a), 7, sizes=SMALL_BULK)
    pb = gen.write_bulk(str(b), 7, sizes=SMALL_BULK)
    pc = gen.write_bulk(str(c), 8, sizes=SMALL_BULK)
    assert pa_ == pb
    assert _files(a) == _files(b)
    assert all(filecmp.cmp(a / f, b / f, shallow=False) for f in _files(a))
    assert any(not filecmp.cmp(a / f, c / f, shallow=False) for f in _files(a))


def test_same_seed_same_sync_and_corpus_input():
    assert gen.sync_initial(3) == gen.sync_initial(3) != gen.sync_initial(4)
    assert gen.sync_tail(3, 5) == gen.sync_tail(3, 5) != gen.sync_tail(3, 6)
    assert gen.corpus_docs(3, **SMALL_CORPUS) == gen.corpus_docs(3, **SMALL_CORPUS)
    assert gen.corpus_docs(3, **SMALL_CORPUS) != gen.corpus_docs(4, **SMALL_CORPUS)


def test_drift_share_and_shapes():
    kinds = [gen.drift_kind(5, op) for op in range(16)]
    assert sum(k is not None for k in kinds) == 4
    assert {"new_field", "new_array_batch2"} == set(k for k in kinds if k)
    op = kinds.index("new_array_batch2")
    tail = gen.sync_tail(5, op)
    first, second = tail[:gen.SYNC_BATCH], tail[gen.SYNC_BATCH:2 * gen.SYNC_BATCH]
    assert not any("labels" in d for d in first) and any("labels" in d for d in second)
    assert any("referrer" in d for d in gen.sync_tail(5, kinds.index("new_field")))
    assert not any("referrer" in d or "labels" in d for d in gen.sync_initial(5))


def test_cached_input_is_reused(tmp_path):
    calls = []

    def build(d, seed):
        calls.append(seed)
        return {"seed": seed}

    assert gen.cached(str(tmp_path), "w", 1, build)[1] == {"seed": 1}
    assert gen.cached(str(tmp_path), "w", 1, build)[1] == {"seed": 1}
    assert calls == [1]


def test_planted_types():
    assert gen.planted_type("str", [None, None]) == "int"
    assert gen.planted_type("double", [1, 2.5]) == "double"
    assert gen.planted_type("str", ["2020-01-01T00:00:00Z", None]) == "datetime"
    assert gen.planted_type("str", ["2020-01-01T00:00:00Z", "x"]) == "varchar(50)"
    assert gen.planted_type("str", ["x" * 50]) == "varchar(100)"
    assert gen.planted_type("str", ["x" * 255]) == "varchar(512)"
    assert gen.planted_type("str", ["x" * 513]) == "text"


# --------------------------------------------------------- span arithmetic


def _span(i, parent, start, end, name="s"):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    sp = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 1.0, 4.0, "a"),
        _span(2, 0, 3.0, 5.0, "b"),      # overlaps a: union 1..5
        _span(3, 1, 1.5, 2.0, "c"),
        _span(4, 0, 9.0, 12.0, "d"),     # runs past its parent: clipped to 9..10
    ]
    st = spans.self_times(sp)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.5)
    assert spans.covered([(1, 2), (2, 3), (5, 6)], 0, 10) == pytest.approx(3.0)
    assert spans.covered([], 0, 10) == 0.0


def test_inclusive_seconds_counts_nested_same_name_once():
    sp = [_span(0, None, 0, 10, "op"), _span(1, 0, 1, 6, "x"), _span(2, 1, 2, 3, "x"),
          _span(3, 0, 7, 8, "x")]
    assert spans.inclusive_seconds(sp, range(4), "x") == pytest.approx(6.0)
    assert spans.root_of(sp, 2) == 0
    assert list(spans.ancestors(sp, 2)) == [2, 1, 0]


def test_tracer_wraps_and_restores_module_attributes():
    import types

    mod = types.ModuleType("fake_engine")
    mod.f = lambda x: [x, x]

    def g(n):
        yield from range(n)

    mod.g = g
    import sys

    sys.modules["fake_engine"] = mod
    try:
        t = spans.Tracer()
        original = mod.f
        t.install([("fake_engine", "f", "plans.ddl"), ("fake_engine", "g", "read")])
        with t.span("op"):
            assert mod.f(1) == [1, 1]
            assert list(mod.g(2)) == [0, 1]
        t.uninstall()
        assert mod.f is original
        names = [s["name"] for s in t.spans]
        assert names == ["op", "plans.ddl", "read", "read", "read"]
        assert all(s["parent"] == 0 for s in t.spans[1:])
        assert t.counters["plans.ddl_statements"] == 2
    finally:
        del sys.modules["fake_engine"]


# ---------------------------------------------------------------- event log


def test_event_log_parser_on_captured_log():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as fh:
        ev = spans.parse_event_log(fh)
    assert sorted(ev["jobs"]) == [0, 1, 2, 3]
    assert [ev["jobs"][j]["span"] for j in range(4)] == [1, 1, 0, 0]
    assert all(j["end"] >= j["submit"] for j in ev["jobs"].values())
    by = spans.spark_by_span(ev)
    assert (by[1]["jobs"], by[1]["stages"], by[1]["tasks"]) == (2, 2, 3)
    assert (by[0]["jobs"], by[0]["stages"], by[0]["tasks"]) == (2, 2, 3)
    assert by[1]["run_s"] == pytest.approx((446 + 426 + 154) / 1000)
    assert by[0]["run_s"] == pytest.approx((93 + 70 + 44) / 1000)
    assert by[1]["gc_s"] == pytest.approx(0.079)
    assert by[1]["shuffle_write_b"] == by[1]["shuffle_read_b"] == 364
    assert by[0]["shuffle_write_b"] == by[0]["shuffle_read_b"] == 118


def test_read_event_logs_accepts_rolled_directories(tmp_path):
    src = os.path.join(DATA, "eventlog_small.jsonl")
    (tmp_path / "app-1").write_text(open(src).read())
    rolled = tmp_path / "eventlog_v2_app-2"
    rolled.mkdir()
    (rolled / "events_1_app-2").write_text(open(src).read())
    (rolled / "appstatus_app-2").write_text("")
    ev = spans.read_event_logs(str(tmp_path))
    assert len(ev["jobs"]) == 8 and len(ev["stages"]) == 8


def test_counting_connect_counts_changed_rows(tmp_path):
    db, counts = str(tmp_path / "x.db"), str(tmp_path / "c")
    os.makedirs(counts)
    factory = spans.CountingConnect(db, counts)
    con = factory()
    con.cursor().execute("CREATE TABLE t (a INT PRIMARY KEY)")
    con.cursor().executemany("REPLACE INTO t VALUES (?)", [(1,), (2,), (2,)])
    con.commit()
    con.close()
    assert spans.collect_counts(counts) == 3
    assert spans.collect_counts(counts) == 0


# ------------------------------------------------------------------ checks


class _Export:
    def __init__(self, schemas):
        self.schemas = schemas


def _bulk_fixture(tmp_path):
    """A MigrateBulk whose output directory holds exactly the plan."""
    src = tmp_path / "src"
    src.mkdir()
    plan = gen.write_bulk(str(src), 3, sizes=SMALL_BULK)
    wl = object.__new__(workloads.MigrateBulk)
    wl.tables = plan["tables"]
    wl.out = str(tmp_path / "out")
    os.makedirs(wl.out)
    for t, p in plan["tables"].items():
        pq.write_table(pa.table({"_num": pa.array(range(p["rows"], 0, -1), pa.int32())}),
                       os.path.join(wl.out, f"{t}.parquet"))
    wl.exports = {"db": _Export({t: dict(p["types"]) for t, p in plan["tables"].items()})}
    return wl


def test_bulk_check_accepts_planted_output(tmp_path):
    assert _bulk_fixture(tmp_path).check(0) == []


@pytest.mark.parametrize("fault", ["missing_table", "lost_row", "num_gap", "type"])
def test_bulk_check_rejects_wrong_output(tmp_path, fault):
    wl = _bulk_fixture(tmp_path)
    t = "user"
    path = os.path.join(wl.out, f"{t}.parquet")
    n = wl.tables[t]["rows"]
    if fault == "missing_table":
        os.remove(path)
    elif fault == "lost_row":
        pq.write_table(pa.table({"_num": pa.array(range(1, n), pa.int32())}), path)
    elif fault == "num_gap":
        pq.write_table(pa.table({"_num": pa.array(list(range(1, n)) + [n + 1], pa.int32())}), path)
    else:
        wl.exports["db"].schemas[t]["joined"] = "varchar(50)"
    assert wl.check(0)


def _sync_fixture(tmp_path):
    """A SqliteSync whose sink holds exactly the model of all documents."""
    wl = object.__new__(workloads.SqliteSync)
    wl.initial = gen.sync_initial(2, n=40)
    wl.tail = gen.sync_tail(2, 0, start=40, n=20, batch=10)
    wl.coll = workloads.FakeCollection(wl.initial + wl.tail)
    list(wl.coll.find({"_id": {"$gt": wl.initial[-1]["_id"]}}))
    wl.result = {"docs": 20, "resumed_from": wl.initial[-1]["_id"]}
    wl.db = str(tmp_path / "sink.db")
    con = sqlite3.connect(wl.db)
    for t, rows in gen.model_tables(gen.SYNC_COLLECTION, wl.initial + wl.tail).items():
        cols = sorted({c for r in rows for c in r} | {"_num"})
        con.execute(f'CREATE TABLE "{t}" ({", ".join(cols)})')
        for k, r in enumerate(rows):
            con.execute(f'INSERT INTO "{t}" VALUES ({", ".join("?" * len(cols))})',
                        [k if c == "_num" else r.get(c) for c in cols])
    con.commit()
    con.close()
    return wl


def test_sync_check_accepts_one_shot_equal_sink(tmp_path):
    assert _sync_fixture(tmp_path).check(0) == []


@pytest.mark.parametrize("fault", ["lost_row", "changed_value", "extra_table", "reread",
                                   "no_resume"])
def test_sync_check_rejects_wrong_output(tmp_path, fault):
    wl = _sync_fixture(tmp_path)
    con = sqlite3.connect(wl.db)
    if fault == "lost_row":
        con.execute("DELETE FROM accounts__tags WHERE rowid = 1")
    elif fault == "changed_value":
        con.execute("UPDATE accounts SET age = age + 1 WHERE rowid = 3")
    elif fault == "extra_table":
        con.execute("CREATE TABLE accounts__labels (_parentid, _index, labels)")
        con.execute("INSERT INTO accounts__labels VALUES ('x', 0, 'y')")
    elif fault == "reread":
        list(wl.coll.find({}))
    else:
        wl.result["resumed_from"] = None
    con.commit()
    con.close()
    assert wl.check(0)


def test_fake_collection_resumes_after_key():
    coll = workloads.FakeCollection([{"_id": gen.objectid(i)} for i in (3, 1, 2)])
    got = list(coll.find({"_id": {"$gt": gen.objectid(1)}}).sort("_id", 1).batch_size(5))
    assert [d["_id"] for d in got] == [gen.objectid(2), gen.objectid(3)]
    assert coll.docs_read == 2


def _corpus_fixture(tmp_path):
    """A CorpusBuild whose output keeps every distinct doc and one member
    of each planted group, split three ways, with a deterministic shard."""
    wl = object.__new__(workloads.CorpusBuild)
    c = gen.corpus_docs(2, **SMALL_CORPUS)
    wl.src = str(tmp_path)
    wl.plan = {"singles": c["singles"], "groups": c["groups"], "contaminated": c["contaminated"]}
    kept = sorted(c["singles"] + [g[0] for gs in c["groups"].values() for g in gs])
    wl.out = str(tmp_path / "out")
    thirds = [kept[0::3], kept[1::3], kept[2::3]]
    for s, ids in zip(("train", "val", "test"), thirds):
        d = os.path.join(wl.out, s, "shard=0") if s == "train" else os.path.join(wl.out, s)
        os.makedirs(d)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                       os.path.join(d, "part-0.parquet"))
    wl.report = {"after_decontam": len(kept)}
    wl.digest = None
    return wl


def test_corpus_check_accepts_planted_survivors(tmp_path):
    wl = _corpus_fixture(tmp_path)
    assert wl.check(0) == []
    assert wl.check(1) == []


@pytest.mark.parametrize("fault", ["two_survivors", "contaminated", "overlap", "count",
                                   "shard_bytes", "lost_distinct"])
def test_corpus_check_rejects_wrong_output(tmp_path, fault):
    wl = _corpus_fixture(tmp_path)
    assert wl.check(0) == []
    val = os.path.join(wl.out, "val", "part-0.parquet")
    ids = pq.read_table(val).column("doc_id").to_pylist()
    if fault == "two_survivors":
        ids.append(wl.plan["groups"]["near"][0][1])
        wl.report["after_decontam"] += 1
    elif fault == "contaminated":
        ids.append(wl.plan["contaminated"][0])
        wl.report["after_decontam"] += 1
    elif fault == "overlap":
        ids.append(pq.read_table(os.path.join(wl.out, "test")).column("doc_id")[0].as_py())
    elif fault == "count":
        wl.report["after_decontam"] += 1
    elif fault == "lost_distinct":
        ids.remove(next(i for i in ids if i in set(wl.plan["singles"])))
        wl.report["after_decontam"] -= 1
    else:
        shard = os.path.join(wl.out, "train", "shard=0", "part-0.parquet")
        t = pq.read_table(shard)
        pq.write_table(t.slice(1), shard)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), val)
    assert wl.check(1)


def test_model_tables_flatten_and_spill():
    docs = [{"_id": "a", "p": {"x": 1, "y": {"z": "q"}}, "tags": ["u", "v"],
             "items": [{"sku": "s", "m": {"k": 2}, "deep": [1]}], "n": None}]
    t = gen.model_tables("c", docs)
    assert t["c"] == [{"p_x": 1, "p_y_z": "q", "_id": "a"}]
    assert t["c__tags"] == [{"_parentid": "a", "_index": 0, "tags": "u"},
                            {"_parentid": "a", "_index": 1, "tags": "v"}]
    assert t["c__items"] == [{"_parentid": "a", "_index": 0, "sku": "s", "m_k": 2}]


def test_table_digest_ignores_num_nulls_and_order():
    a = [{"x": 1, "y": None, "_num": 1}, {"x": 2.0}]
    b = [{"x": 2}, {"x": 1.0, "_num": 7}]
    assert workloads.table_digest(a) == workloads.table_digest(b)
    assert workloads.table_digest(a) != workloads.table_digest([{"x": 1}, {"x": 3}])


def test_benchmark_json_matches_runner():
    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_peak_rss_counts_this_process():
    with spans.PeakRss(interval=0.01) as rss:
        blob = bytearray(64 * spans.MB)
        rss.sample()
    assert rss.peak_bytes >= len(blob)
