"""Seeded input generation for the three workloads.

Everything here is pure Python plus pyarrow: the engine never sees the
generator, only the files (or the in-memory collection) it produces.
Each generator also returns what it *planted* -- the tables, row counts,
widest column types, duplicate groups and contaminated documents -- so
the checks compare the engine's output against the plan, not against
the engine.

Inputs are cached under the work directory keyed by workload, seed and
``GEN_VERSION``; bump the version whenever a generator changes.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 3

ISO_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,4})?")
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def objectid(n: int) -> str:
    """Fixed-width hex id: sorts lexicographically in insertion order,
    like a time-prefixed Mongo ObjectId."""
    return f"{n:024x}"


def word(rng: random.Random, lo: int = 3, hi: int = 9) -> str:
    return "".join(rng.choice(LETTERS) for _ in range(rng.randint(lo, hi)))


def text(rng: random.Random, lo: int, hi: int) -> str:
    """Space-joined words whose total length lies in [lo, hi]."""
    target = rng.randint(lo, hi)
    out = word(rng)
    while len(out) < target:
        out += " " + word(rng)
    return out[:target].rstrip() or "x"


def iso(rng: random.Random) -> str:
    return (
        f"{rng.randint(2015, 2024)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z"
    )


def mixed_number(rng: random.Random) -> int | float:
    """Mongo numeric fields hold ints in some documents and doubles in
    others; the widest type is double."""
    return rng.randint(0, 500) if rng.random() < 0.5 else round(rng.uniform(0, 500), 3)


# ------------------------------------------------------------ type plan


def varchar_bucket(n: int) -> int:
    if n < 50:
        return 50
    if n < 100:
        return 100
    if n < 255:
        return 255
    return 512


def planted_type(kind: str, values) -> str:
    """Widest reference type of one destination column: never-seen
    columns are 'int', numbers keep their declared kind, strings are
    'datetime' when every value is an ISO date, else a varchar bucket
    of the longest value ('text' past 512)."""
    vals = [v for v in values if v is not None]
    if not vals:
        return "int"
    if kind in ("int", "double"):
        return kind
    longest = max(len(v) for v in vals)
    if longest > 512:
        return "text"
    if all(ISO_RE.match(v) for v in vals):
        return "datetime"
    return f"varchar({varchar_bucket(longest)})"


# ----------------------------------------------------------- migrate_bulk

SPEC_KEYS = [f"k{i:02d}" for i in range(30)]  # > 25 keys: spills


def _bulk_object(rng: random.Random, n: int) -> dict:
    doc = {"_id": objectid(n)}
    r = rng.random()
    if r < 0.4:
        doc.update(
            _key=f"user:{n}", username=word(rng, 5, 14), email=text(rng, 20, 45),
            joined=iso(rng), reputation=rng.randint(0, 10**6),
            profile={
                "bio": text(rng, 10, 220), "city": word(rng), "age": rng.randint(13, 90),
                "links": {"home": text(rng, 10, 60),
                          "blog": text(rng, 10, 60) if rng.random() < 0.5 else None},
                "langs": [word(rng, 2, 3) for _ in range(rng.randint(0, 3))],
            },
        )
    elif r < 0.8:
        doc.update(
            _key=f"post:{n}", title=text(rng, 10, 90), content=text(rng, 30, 400),
            score=mixed_number(rng), created=iso(rng),
            tags=[word(rng, 3, 12) for _ in range(rng.randint(0, 5))],
            comments=[
                {"author": word(rng), "body": text(rng, 5, 120),
                 "votes": rng.randint(-5, 50),
                 "meta": {"lang": word(rng, 2, 2), "edited": iso(rng)},
                 "likes": [word(rng) for _ in range(rng.randint(0, 2))]}
                for _ in range(rng.randint(0, 4))
            ],
        )
    elif r < 0.9:
        doc.update(_key=f"topic:{n}:meta", title=text(rng, 5, 60),
                   views=rng.randint(0, 10**5), score=mixed_number(rng))
    elif r < 0.95:
        doc.update(_key=f"tag:{word(rng, 3, 10)}:topics", views=rng.randint(0, 100))
    else:
        # a column mixing ISO dates with plain text stays varchar
        doc.update(_key=f"settings:{word(rng)}",
                   note=iso(rng) if rng.random() < 0.5 else text(rng, 3, 40))
    return doc


def _bulk_event(rng: random.Random, n: int) -> dict:
    return {
        "_id": objectid(n), "ts": iso(rng), "kind": word(rng, 3, 8),
        "value": rng.randint(-1000, 1000),
        "ratio": None if rng.random() < 0.1 else mixed_number(rng),
        "note": iso(rng) if rng.random() < 0.7 else text(rng, 5, 80),
        "payload": {"a": word(rng), "b": rng.randint(0, 99),
                    "c": {"d": text(rng, 3, 30), "e": round(rng.uniform(-1, 1), 4)}},
        "items": [
            {"sku": word(rng, 6, 6), "qty": rng.randint(1, 9),
             "price": round(rng.uniform(1, 99), 2)}
            for _ in range(rng.randint(0, 6))
        ],
    }


def _bulk_device(rng: random.Random, n: int) -> dict:
    specs = {k: (rng.randint(0, 9999) if i % 2 else word(rng, 2, 20))
             for i, k in enumerate(SPEC_KEYS)}
    return {
        "_id": objectid(n), "name": text(rng, 4, 70), "specs": specs,
        "readings": [round(rng.uniform(0, 1), 5) for _ in range(rng.randint(0, 8))],
    }


def _arrow_schemas():
    s, i, d = pa.string(), pa.int64(), pa.float64()
    objects = pa.schema([
        ("_id", s), ("_key", s), ("username", s), ("email", s), ("joined", s),
        ("reputation", i), ("score", d), ("title", s), ("content", s),
        ("created", s), ("views", i), ("note", s),
        ("profile", pa.struct([
            ("bio", s), ("city", s), ("age", i),
            ("links", pa.struct([("home", s), ("blog", s)])),
            ("langs", pa.list_(s)),
        ])),
        ("tags", pa.list_(s)),
        ("comments", pa.list_(pa.struct([
            ("author", s), ("body", s), ("votes", i),
            ("meta", pa.struct([("lang", s), ("edited", s)])),
            ("likes", pa.list_(s)),
        ]))),
    ])
    events = pa.schema([
        ("_id", s), ("ts", s), ("kind", s), ("value", i), ("ratio", d), ("note", s),
        ("payload", pa.struct([("a", s), ("b", i),
                               ("c", pa.struct([("d", s), ("e", d)]))])),
        ("items", pa.list_(pa.struct([("sku", s), ("qty", i), ("price", d)]))),
    ])
    devices = pa.schema([
        ("_id", s), ("name", s),
        ("specs", pa.struct([(k, i if n % 2 else s) for n, k in enumerate(SPEC_KEYS)])),
        ("readings", pa.list_(d)),
    ])
    return {"objects": objects, "events": events, "devices": devices}


def _route(doc: dict, collection: str) -> str:
    """Planted destination of a document: the generator builds each
    ``_key`` from its route, so this is a lookup, not the engine's regex."""
    key = doc.get("_key")
    if key is None:
        return collection
    prefix = key.split(":")[0]
    if key.startswith("tag:"):
        return "tag_topics"
    if key.endswith(":meta"):
        return "topic_meta"
    return prefix


def _columns(schema, prefix: str = "") -> list[tuple[str, str, tuple]]:
    """(flat column, kind, access path) of every parent-table column.
    Spilled fields (a list, or a struct of more than 25 fields) are
    skipped."""
    out = []
    for f in schema:
        name = f"{prefix}{f.name}"
        if pa.types.is_list(f.type) or (pa.types.is_struct(f.type) and f.type.num_fields > 25):
            continue
        if pa.types.is_struct(f.type):
            for sub, kind, path in _columns(list(f.type), name + "_"):
                out.append((sub, kind, (f.name, *path)))
            continue
        kind = "str" if pa.types.is_string(f.type) else (
            "int" if pa.types.is_integer(f.type) else "double")
        out.append((name, kind, (f.name,)))
    return out


def _get(doc, path):
    for p in path:
        if doc is None:
            return None
        doc = doc.get(p)
    return doc


def _bulk_plan(collections: dict[str, list[dict]], schemas) -> dict:
    """Planted tables: {table: {"rows": n, "types": {column: type}}}."""
    plan: dict[str, dict] = {}
    for cname, docs in collections.items():
        cols = _columns(schemas[cname])
        routed: dict[str, list[dict]] = {}
        for doc in docs:
            routed.setdefault(_route(doc, cname), []).append(doc)
        for table, tdocs in routed.items():
            types = {c: planted_type(k, (_get(d, p) for d in tdocs)) for c, k, p in cols}
            types["_num"] = "int"
            plan[table] = {"rows": len(tdocs), "types": types}
        ids = [d["_id"] for d in docs]
        id_type = planted_type("str", ids)

        def child(flat, rows, value_cols, index_kind="int"):
            types = {"_parentid": id_type,
                     "_index": planted_type(index_kind, [r[0] for r in rows]) if rows else "int"}
            for j, (c, kind) in enumerate(value_cols):
                types[c] = planted_type(kind, [r[1][j] for r in rows])
            types["_num"] = "int"
            plan[f"{cname}__{flat}"] = {"rows": len(rows), "types": types}

        for f in schemas[cname]:
            if not _is_spill(f):
                continue
            for flat, path, elem in _spill_fields(f):
                rows = []
                for doc in docs:
                    v = _get(doc, path)
                    if v is None:
                        continue
                    if isinstance(v, dict):  # > 25-key object: one row per key
                        rows.extend((k, (None if x is None else str(x),)) for k, x in v.items())
                    else:
                        rows.extend((i, e) for i, e in enumerate(v))
                if isinstance(elem, list):  # array of structs: flattened element
                    cols = [(c, kind) for c, kind, _ in elem]
                    rows = [(i, tuple(_get(e, p) for _, _, p in elem)) for i, e in rows]
                    child(flat, rows, cols)
                elif elem == "big":
                    child(flat, rows, [(flat, "str")], index_kind="str")
                else:
                    child(flat, [(i, (e,)) for i, e in rows], [(flat, elem)])
    return plan


def _is_spill(field) -> bool:
    t = field.type
    if pa.types.is_list(t) or (pa.types.is_struct(t) and t.num_fields > 25):
        return True
    return pa.types.is_struct(t) and any(_is_spill(g) for g in t)


def _spill_fields(field, prefix: str = "", path: tuple = ()):
    """(flat name, access path, element description) of every spilled
    field below ``field``.  Element: a kind for scalar arrays, a column
    list for struct arrays (nested arrays dropped, nested structs one
    level deep), or "big" for a > 25-key object."""
    t, flat, path = field.type, f"{prefix}{field.name}", (*path, field.name)
    if pa.types.is_struct(t) and t.num_fields > 25:
        yield flat, path, "big"
    elif pa.types.is_struct(t):
        for g in t:
            yield from _spill_fields(g, flat + "_", path)
    elif pa.types.is_list(t):
        e = t.value_type
        if pa.types.is_struct(e):
            cols = []
            for g in e:
                if pa.types.is_list(g.type):
                    continue
                if pa.types.is_struct(g.type):
                    cols += [(f"{g.name}_{h.name}", _kind(h.type), (g.name, h.name))
                             for h in g.type if not pa.types.is_nested(h.type)]
                else:
                    cols.append((g.name, _kind(g.type), (g.name,)))
            yield flat, path, cols
        else:
            yield flat, path, _kind(e)


def _kind(t) -> str:
    if pa.types.is_string(t):
        return "str"
    return "int" if pa.types.is_integer(t) else "double"


BULK_SIZES = {"objects": 12000, "events": 8000, "devices": 1500}


def bulk_docs(seed: int, sizes: dict[str, int] = BULK_SIZES) -> dict[str, list[dict]]:
    makers = {"objects": _bulk_object, "events": _bulk_event, "devices": _bulk_device}
    out = {}
    for i, (name, n) in enumerate(sorted(sizes.items())):
        rng = random.Random(f"{seed}/bulk/{name}")
        out[name] = [makers[name](rng, i * 10**7 + k) for k in range(n)]
    return out


def write_bulk(path: str, seed: int, sizes: dict[str, int] = BULK_SIZES,
               files_per_collection: int = 4) -> dict:
    """Write each collection as ``<name>.parquet/part-*.parquet`` (several
    files, so the scan has more than one split) and return the plan."""
    schemas = _arrow_schemas()
    collections = bulk_docs(seed, sizes)
    for name, docs in collections.items():
        d = os.path.join(path, f"{name}.parquet")
        os.makedirs(d)
        step = -(-len(docs) // files_per_collection)
        for j in range(files_per_collection):
            part = pa.Table.from_pylist(docs[j * step:(j + 1) * step], schema=schemas[name])
            pq.write_table(part, os.path.join(d, f"part-{j:03d}.parquet"))
    tables = _bulk_plan(collections, schemas)
    stats = {
        "docs": sum(len(v) for v in collections.values()),
        "collections": len(collections),
        "tables": len(tables),
        "child_tables": sum("__" in t for t in tables),
        "spilled_rows": sum(v["rows"] for t, v in tables.items() if "__" in t),
    }
    return {"tables": tables, "stats": stats}


# ------------------------------------------------------------ sqlite_sync

SYNC_COLLECTION = "accounts"
SYNC_BATCH = 300
SYNC_INITIAL = 2 * SYNC_BATCH
SYNC_TAIL = 2 * SYNC_BATCH
DRIFT_EVERY = 4


def _account(rng: random.Random, n: int) -> dict:
    return {
        "_id": objectid(n), "name": text(rng, 4, 40), "age": rng.randint(18, 99),
        "balance": mixed_number(rng), "created": iso(rng),
        "profile": {"city": word(rng), "zip": f"{rng.randint(0, 99999):05d}"},
        "tags": [word(rng, 3, 10) for _ in range(rng.randint(1, 3))],
        "items": [{"sku": word(rng, 6, 6), "qty": rng.randint(1, 9)}
                  for _ in range(rng.randint(0, 3))],
    }


def sync_initial(seed: int, n: int = SYNC_INITIAL) -> list[dict]:
    rng = random.Random(f"{seed}/sync/initial")
    return [_account(rng, k) for k in range(n)]


def drift_kind(seed: int, op: int) -> str | None:
    """Which resyncs carry schema drift: one in ``DRIFT_EVERY``, at a
    seed-determined phase, alternating between the two shapes real
    collections grow."""
    if (op + seed) % DRIFT_EVERY != DRIFT_EVERY - 1:
        return None
    return "new_field" if (op // DRIFT_EVERY) % 2 == 0 else "new_array_batch2"


def sync_tail(seed: int, op: int, start: int = SYNC_INITIAL, n: int = SYNC_TAIL,
              batch: int = SYNC_BATCH) -> list[dict]:
    """The documents appended before resync ``op`` (op -1 is the
    warm-up).  Drift shapes: ``new_field`` adds a scalar never exported
    before; ``new_array_batch2`` adds an array field that first appears
    in the sync's second cursor batch."""
    rng = random.Random(f"{seed}/sync/tail/{op}")
    docs = [_account(rng, start + k) for k in range(n)]
    kind = drift_kind(seed, op) if op >= 0 else None
    if kind == "new_field":
        for d in docs[::3]:
            d["referrer"] = word(rng, 4, 12)
    elif kind == "new_array_batch2":
        for d in docs[batch:2 * batch:2]:
            d["labels"] = [word(rng) for _ in range(rng.randint(1, 3))]
    return docs


def write_sync(path: str, seed: int) -> dict:
    """Write the initial documents as JSON lines; tails are generated per
    resync by ``sync_tail``."""
    docs = sync_initial(seed)
    with open(os.path.join(path, "initial.jsonl"), "w") as fh:
        for d in docs:
            fh.write(json.dumps(d) + "\n")
    tables = model_tables(SYNC_COLLECTION, docs)
    return {"stats": {
        "docs": len(docs), "tables": len(tables),
        "spilled_rows": sum(len(r) for t, r in tables.items() if "__" in t),
        "tail_docs": SYNC_TAIL, "batch_size": SYNC_BATCH,
        "drift_ops_of_first_16": [op for op in range(16) if drift_kind(seed, op)],
    }}


def model_tables(collection: str, docs: list[dict]) -> dict[str, list[dict]]:
    """The rows a one-shot export of ``docs`` holds, table by table:
    objects of up to 25 keys flatten into ``a_b`` columns, arrays spill
    into ``<collection>__<field>`` with ``_parentid``/``_index`` (struct
    elements flattened one level, nested arrays dropped).  Rows hold
    only their non-null values; ``_num`` is not modelled."""
    tables: dict[str, list[dict]] = {collection: []}

    def walk(obj: dict, prefix: str, row: dict, pid) -> None:
        for k, v in obj.items():
            flat = f"{prefix}{k}"
            if isinstance(v, dict) and len(v) <= 25:
                walk(v, flat + "_", row, pid)
            elif isinstance(v, list):
                rows = tables.setdefault(f"{collection}__{flat}", [])
                for i, e in enumerate(v):
                    child = {"_parentid": pid, "_index": i}
                    if isinstance(e, dict):
                        for ek, ev in e.items():
                            if isinstance(ev, dict):
                                child.update({f"{ek}_{gk}": gv for gk, gv in ev.items()
                                              if not isinstance(gv, (dict, list))})
                            elif not isinstance(ev, list):
                                child[ek] = ev
                    else:
                        child[flat] = e
                    rows.append({c: x for c, x in child.items() if x is not None})
            elif v is not None:
                row[flat] = v

    for doc in docs:
        row: dict = {}
        walk(doc, "", row, doc["_id"])
        tables[collection].append(row)
    return tables


# ------------------------------------------------------------ corpus_build

CORPUS_BASE = 600
CORPUS_GROUPS = 20          # per duplicate kind
CORPUS_CONTAMINATED = 15
CORPUS_BENCH_DOCS = 20


def _doc_words(rng: random.Random, vocab: list[str], lo: int, hi: int) -> list[str]:
    return [rng.choice(vocab) for _ in range(rng.randint(lo, hi))]


def corpus_docs(seed: int | str, n_base: int = CORPUS_BASE, groups: int = CORPUS_GROUPS,
                n_contaminated: int = CORPUS_CONTAMINATED,
                n_bench: int = CORPUS_BENCH_DOCS) -> dict:
    """Documents with planted exact, near and passage duplicate groups
    and documents contaminated by a planted benchmark set.

    Every document passes the pipeline's quality filter (>= 60 tokens
    drawn from a 6000-word vocabulary: diverse, no punctuation), so the
    expected survivors are exactly: every base document, one member of
    each duplicate group, and no contaminated document."""
    rng = random.Random(f"{seed}/corpus")
    vocab = sorted({word(rng, 3, 10) for _ in range(6000)})
    ids = rng.sample(range(1, 10**7), n_base + 5 * groups + n_contaminated)
    nxt = iter(ids)
    docs: dict[int, str] = {}
    base = []
    for _ in range(n_base):
        i = next(nxt)
        docs[i] = " ".join(_doc_words(rng, vocab, 60, 160))
        base.append(i)
    singles = set(base)
    planted: dict[str, list[list[int]]] = {"exact": [], "near": [], "passage": []}
    sources = rng.sample(base, 3 * groups)
    for k, src in enumerate(sources):
        toks = docs[src].split(" ")
        singles.discard(src)
        if k < groups:            # exact: same tokens, new id
            kind, copies = "exact", [" ".join(toks)]
        elif k < 2 * groups:      # near: one word changed (3-shingle Jaccard ~0.96)
            kind = "near"
            j = rng.randrange(len(toks))
            copies = [" ".join(toks[:j] + [word(rng, 11, 12)] + toks[j + 1:])]
        else:                     # passage: most of the source inside a new doc
            kind = "passage"
            span = toks[: max(40, len(toks) * 2 // 3)]
            copies = [" ".join(_doc_words(rng, vocab, 12, 16) + span)]
        group = [src]
        for c in copies:
            i = next(nxt)
            docs[i] = c
            group.append(i)
        planted[kind].append(group)
    bench = [" ".join(_doc_words(rng, vocab, 40, 60)) for _ in range(n_bench)]
    contaminated = []
    for _ in range(n_contaminated):
        i = next(nxt)
        b = rng.choice(bench).split(" ")
        j = rng.randrange(len(b) - 12)
        toks = _doc_words(rng, vocab, 60, 120)
        cut = rng.randrange(len(toks))
        docs[i] = " ".join(toks[:cut] + b[j:j + 12] + toks[cut:])
        contaminated.append(i)
    return {
        "docs": sorted(docs.items()),
        "bench": bench,
        "singles": sorted(singles),
        "groups": planted,
        "contaminated": contaminated,
    }


CORPUS_WARMUP = dict(n_base=100, groups=3, n_contaminated=3)


def _write_corpus_files(path: str, c: dict) -> dict:
    ids = [i for i, _ in c["docs"]]
    texts = [t for _, t in c["docs"]]
    os.makedirs(os.path.join(path, "documents.parquet"))
    step = -(-len(ids) // 4)
    for j in range(4):
        pq.write_table(
            pa.table({"doc_id": pa.array(ids[j * step:(j + 1) * step], pa.int64()),
                      "text": pa.array(texts[j * step:(j + 1) * step], pa.string())}),
            os.path.join(path, "documents.parquet", f"part-{j:03d}.parquet"),
        )
    pq.write_table(pa.table({"text": pa.array(c["bench"], pa.string())}),
                   os.path.join(path, "benchmark.parquet"))
    stats = {
        "docs": len(ids),
        "planted_exact_dups": len(c["groups"]["exact"]),
        "planted_near_dups": len(c["groups"]["near"]),
        "planted_passage_dups": len(c["groups"]["passage"]),
        "planted_contaminated": len(c["contaminated"]),
        "benchmark_docs": len(c["bench"]),
    }
    return {"singles": c["singles"], "groups": c["groups"],
            "contaminated": c["contaminated"], "stats": stats}


def write_corpus(path: str, seed: int, **sizes) -> dict:
    """The measured corpus, plus a smaller one of the same shape under
    ``warmup/`` for the warm-up build (same plans, a fraction of the work)."""
    plan = _write_corpus_files(path, corpus_docs(seed, **sizes))
    plan["warmup"] = _write_corpus_files(os.path.join(path, "warmup"),
                                         corpus_docs(f"{seed}/warmup", **CORPUS_WARMUP))
    return plan


# ------------------------------------------------------------------ cache


def cached(work: str, workload: str, seed: int, build) -> tuple[str, dict]:
    """Return (input dir, plan) for ``workload``/``seed``, building it
    with ``build(dir, seed)`` on first use.  The plan is written last, so
    a directory without it is an interrupted build and is rebuilt."""
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-v{GEN_VERSION}")
    plan_file = os.path.join(d, "plan.json")
    if not os.path.exists(plan_file):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        plan = build(d, seed)
        with open(plan_file + ".tmp", "w") as fh:
            json.dump(plan, fh)
        os.replace(plan_file + ".tmp", plan_file)
    with open(plan_file) as fh:
        return d, json.load(fh)
