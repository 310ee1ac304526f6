"""Seeded input generation: the fixture tables ``tables.load_tables``
reads, the ingest base corpus and events file, and every request list.

Everything here is a pure function of the seed (NumPy ``default_rng``),
so one seed always gives the same bytes and the program under test only
ever sees generated inputs. The table schemas and value ranges follow
the driver fixtures described in FIXTURES.md / TESTDATA.md (TPC-H-ish
star schema plus ``events``, ``documents`` and 64-d ``embeddings``), so
the registry's fixed constants (query times, BFS roots, BM25 terms)
select comparable rows.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
# Analyzer vocabulary of the driver's document fixture; "dup" marks the
# near-duplicate documents the dedup family clusters.
VOCAB = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark group query row data filter customer line "
    "value agg column vector"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
PART_ADJ = ["cold", "small", "large", "shiny", "red"]
PART_NOUN = ["widget", "bolt", "gear", "valve", "spring"]

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


_ORDER_T0 = _us(dt.datetime(1995, 1, 1))
_ORDER_T1 = _us(dt.datetime(2001, 8, 1))
_EVENT_T0 = _us(dt.datetime(2024, 1, 1))
_EVENT_T1 = _us(dt.datetime(2024, 1, 31))
_DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _sentence(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB, size=int(rng.integers(lo, hi))))


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    x = rng.standard_normal((n, DIM))
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(rng.integers(_EVENT_T0, _EVENT_T1, n))
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, 15, n).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.uniform(0, 200, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def fixture_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten base tables at ``scale`` (1.0 = the driver's sf0.001
    row counts: 6000 lineitems, 500 documents, 500 embeddings)."""
    rng = np.random.default_rng([seed, 1])
    n_c = max(20, int(150 * scale))
    n_s = max(5, int(10 * scale))
    n_p = max(40, int(200 * scale))
    n_o = max(100, int(1500 * scale))
    n_e = max(200, int(1000 * scale))
    n_d = max(100, int(500 * scale))
    n_v = max(100, int(500 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_c),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_s), 2),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_p, dtype="int64"),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                   for _ in range(n_p)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(PART_TYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 200) * 0.1, 2),
    })
    odate = rng.integers(_ORDER_T0 // _DAY_US, _ORDER_T1 // _DAY_US, n_o)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype="int64"),
        "o_custkey": rng.integers(0, n_c, n_o).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_o), 2),
        "o_orderdate": _ts(odate * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_o),
    })
    lines = rng.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o), lines)
    n_l = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_l).astype("float64")
    pkey = rng.integers(0, n_p, n_l)
    t["lineitem"] = pa.table({
        "l_orderkey": okey.astype("int64"),
        "l_partkey": pkey.astype("int64"),
        "l_suppkey": rng.integers(0, n_s, n_l).astype("int64"),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (pkey % 200) * 0.1)
                                    * rng.uniform(1.0, 2.2, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _ts((odate[okey] + rng.integers(1, 122, n_l)) * _DAY_US),
    })
    t["events"] = _events(rng, n_e)
    texts: list[str] = []
    for i in range(n_d):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup clusters)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_sentence(rng, 15, 80))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_d, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_d),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_d)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })
    vecs = unit_vectors(rng, n_v).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_v, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_v), pa.int32()),
    })
    return t


def write_fixture(seed: int, scale: float, directory: str) -> None:
    """Write the base tables as ``<directory>/<name>.parquet``."""
    os.makedirs(directory, exist_ok=True)
    for name, table in fixture_tables(seed, scale).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Request lists
# ---------------------------------------------------------------------------

SEARCH_KINDS = (
    "knn_exact", "knn_lsh", "pq", "nsw", "bm25",
    "vsearch_hybrid", "vsearch_filter",
    "graph_bfs", "graph_traverse", "graph_find_path",
)
_QUERY_WORDS = [w for w in VOCAB if w not in ("the", "a")]


def search_requests(seed: int, rounds: int, n_vectors: int, n_parts: int) -> list[dict]:
    """``rounds`` rounds, each one request of every kind in the order of
    ``SEARCH_KINDS``: every run has the same sequence of kinds, and the
    seed picks each request's query, terms, filter and graph nodes."""
    rng = np.random.default_rng([seed, 2])
    out: list[dict] = []
    for r in range(rounds):
        for kind in SEARCH_KINDS:
            req = {"id": f"r{len(out)}", "kind": kind, "round": r}
            if kind in ("knn_exact", "vsearch_hybrid", "vsearch_filter"):
                req["vector"] = [float(x) for x in unit_vectors(rng, 1)[0]]
            if kind in ("knn_lsh", "pq", "nsw"):
                req["query_id"] = int(rng.integers(0, n_vectors))
            if kind in ("bm25", "vsearch_hybrid"):
                req["tokens"] = [str(w) for w in rng.choice(_QUERY_WORDS, 3)]
            if kind == "vsearch_hybrid":
                req["alpha"] = float(rng.choice([0.3, 0.5, 0.7]))
            if kind == "vsearch_filter":
                a, b = rng.choice(sorted(set(LANGS)), 2, replace=False)
                req["filter"] = f"lang = {a} OR lang = {b}"
            if kind in ("graph_bfs", "graph_traverse"):
                req["roots"] = [f"p_{int(p)}" for p in
                                rng.choice(n_parts, 2, replace=False)]
            if kind == "graph_find_path":
                req["src"] = f"p_{int(rng.integers(0, n_parts))}"
                req["dst"] = f"r_{int(rng.integers(0, 5))}"
            out.append(req)
    return out


# ---------------------------------------------------------------------------
# Ingest corpus and write plan
# ---------------------------------------------------------------------------

INGEST_NOW = 1_705_276_800  # 2024-01-15 UTC, the registry's query time
#: The writes of each compaction cycle, alternating. The sequence of
#: write kinds is the same for every seed, so runs differ only in the
#: data; one link write per cycle bounds the log a recovery replays
#: (see README.md, "Findings").
CYCLE_WRITES = (("add", "link", "reinforce"), ("add", "link", "delete"))
ADD_BATCH = 20
LINKS_PER_WRITE = 2
IDS_PER_WRITE = 4


def memory_items(rng: np.random.Generator, start: int, n: int) -> list[dict]:
    vecs = unit_vectors(rng, n)
    return [
        {
            "id": f"m_{start + i}",
            "vector": [float(x) for x in vecs[i]],
            "meta": {
                "content": _sentence(rng, 8, 30),
                "parent": f"doc_{int(rng.integers(0, 40))}",
                "lang": str(rng.choice(LANGS)),
            },
        }
        for i in range(n)
    ]


def ingest_plan(seed: int, n_base: int, cycles: int) -> dict:
    """Base corpus plus ``cycles`` cycles of writes, each write followed
    by one hybrid read. Ids chosen for links, deletes and
    reinforcements are live at the time of the write (the plan tracks
    what earlier writes did)."""
    rng = np.random.default_rng([seed, 4])
    base = memory_items(rng, 0, n_base)
    live = [it["id"] for it in base]
    next_id = n_base
    kinds = [k for c in range(cycles) for k in CYCLE_WRITES[c % len(CYCLE_WRITES)]]
    steps = []
    for i, kind in enumerate(kinds):
        now = INGEST_NOW + 60 * (i + 1)
        w: dict = {"kind": kind, "now": now}
        if kind == "add":
            w["items"] = memory_items(rng, next_id, ADD_BATCH)
            next_id += ADD_BATCH
            live += [it["id"] for it in w["items"]]
        elif kind == "link":
            links: dict[tuple, float] = {}  # distinct pairs within a batch
            while len(links) < LINKS_PER_WRITE:
                s, d = rng.choice(len(live), 2, replace=False)
                links[(live[s], live[d])] = float(round(rng.uniform(0.1, 1.0), 3))
            w["links"] = [[s, d, "related", wt] for (s, d), wt in links.items()]
        else:
            pick = rng.choice(len(live), IDS_PER_WRITE, replace=False)
            w["ids"] = sorted(live[p] for p in pick)
            if kind == "delete":
                live = [x for x in live if x not in set(w["ids"])]
        read = {"vector": [float(x) for x in unit_vectors(rng, 1)[0]],
                "text": " ".join(rng.choice(_QUERY_WORDS, 2)),
                "alpha": float(rng.choice([0.3, 0.5, 0.7]))}
        steps.append({"write": w, "read": read})
    return {"base": base, "steps": steps}


def write_events(seed: int, n: int, path: str, stream: int = 5) -> None:
    """An events file the streaming upsert sink ingests; ``stream``
    tells apart files of one seed."""
    pq.write_table(_events(np.random.default_rng([seed, stream]), n), path)
