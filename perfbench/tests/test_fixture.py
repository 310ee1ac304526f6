"""Generated inputs are a function of the seed alone."""

import os

import fixture


def test_same_seed_same_tables():
    a, b = fixture.fixture_tables(7, 0.2), fixture.fixture_tables(7, 0.2)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)


def test_other_seed_other_tables():
    a, b = fixture.fixture_tables(7, 0.2), fixture.fixture_tables(8, 0.2)
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["embeddings"].equals(b["embeddings"])
    assert not a["documents"].equals(b["documents"])


def test_tables_match_the_driver_schema():
    t = fixture.fixture_tables(1, 0.2)
    assert set(t) == {"region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents", "embeddings"}
    assert len(t["embeddings"].column("embedding")[0]) == fixture.DIM
    assert str(t["orders"].schema.field("o_orderdate").type) == "timestamp[us]"


def test_requests_and_plans_follow_the_seed():
    assert fixture.search_requests(3, 2, 100, 50) == fixture.search_requests(3, 2, 100, 50)
    assert fixture.search_requests(3, 2, 100, 50) != fixture.search_requests(4, 2, 100, 50)
    assert fixture.ingest_plan(3, 30, 2) == fixture.ingest_plan(3, 30, 2)
    assert fixture.ingest_plan(3, 30, 2) != fixture.ingest_plan(4, 30, 2)


def test_every_round_has_every_kind_once():
    reqs = fixture.search_requests(5, 3, 100, 50)
    for r in range(3):
        kinds = sorted(q["kind"] for q in reqs if q["round"] == r)
        assert kinds == sorted(fixture.SEARCH_KINDS)


def test_ingest_writes_touch_live_ids_only():
    plan = fixture.ingest_plan(9, 30, 4)
    live = {it["id"] for it in plan["base"]}
    for step in plan["steps"]:
        w = step["write"]
        if w["kind"] == "add":
            live |= {it["id"] for it in w["items"]}
        elif w["kind"] == "link":
            assert all(s in live and d in live and s != d for s, d, _, _ in w["links"])
        else:
            assert set(w["ids"]) <= live
            if w["kind"] == "delete":
                live -= set(w["ids"])


def test_events_file_follows_the_seed(tmp_path):
    paths = [os.path.join(tmp_path, f"e{i}.parquet") for i in range(4)]
    for p, seed in zip(paths[:3], (1, 1, 2)):
        fixture.write_events(seed, 50, p)
    fixture.write_events(1, 50, paths[3], stream=6)  # the warm-up file
    raw = [open(p, "rb").read() for p in paths]
    assert raw[0] == raw[1] != raw[2]
    assert raw[3] != raw[0]
