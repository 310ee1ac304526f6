"""S11 snapshot/AOF/recovery (sources/persistence.py) and S7 cursor
pagination (api.vget_ids_by_cursor) — the two surfaces earlier rounds
marked n/a-by-design, now implemented as reference-shaped facades."""

from __future__ import annotations

import json
import os
from dataclasses import replace

import pytest

from kektordb_spark import api
from kektordb_spark.sources import persistence as P


def _build_index(spark, n=12):
    ix = api.vcreate(spark, "persist_ix", text_fields=("body",))
    items = [
        {"id": f"doc{i:03d}", "vector": [float(i), 1.0, 0.5],
         "meta": {"body": f"text number {i}", "lang": "en"}}
        for i in range(n)
    ]
    return api.vadd_batch(ix, items, now=100)


def _state(ix):
    vec = sorted(
        (r.id, r.deleted, r.access_count, dict(r.meta))
        for r in ix.vectors.collect()
    )
    edg = sorted(
        (r.src, r.dst, r.rel, r.deleted_at) for r in ix.edges.collect()
    )
    return vec, edg


def test_aof_replay_equals_direct_application(spark, tmp_path):
    """Boot-time replay through the public verbs reproduces the exact
    state the live sequence produced (the reference's replay-through-
    normal-dispatch guarantee)."""
    log = P.AofLog(str(tmp_path / "aof"))
    live = _build_index(spark)
    log.append("add_batch", now=100, items=[
        {"id": "doc900", "vector": [9.0, 9.0, 9.0], "meta": {"body": "nine"}}
    ])
    live = api.vadd_batch(
        live, [{"id": "doc900", "vector": [9.0, 9.0, 9.0],
                "meta": {"body": "nine"}}], now=100, mode="upsert")
    log.append("link", now=101, src="doc001", dst="doc002", rel="ref")
    live = api.vlink(live, "doc001", "doc002", "ref", now=101)
    log.append("delete", now=102, ids=["doc003"])
    live = api.vdelete(live, ["doc003"], now=102)
    log.append("set_metadata", now=103, id="doc001", props={"lang": "de"})
    live = api.vset_metadata(live, "doc001", {"lang": "de"}, now=103)
    log.append("reinforce", now=104, ids=["doc002"])
    live = api.vreinforce(live, ["doc002"], now=104)
    log.append("unlink", now=105, src="doc001", dst="doc002", rel="ref")
    live = api.vunlink(live, "doc001", "doc002", "ref", now=105)

    replayed = log.replay(_build_index(spark))
    assert _state(replayed) == _state(live)


def test_snapshot_roundtrip_and_recovery(spark, tmp_path):
    """save_snapshot -> load_snapshot preserves config + full state;
    recover() = snapshot + replay of only the NEWER records."""
    snap = str(tmp_path / "snap")
    log = P.AofLog(str(tmp_path / "snap"))  # co-located AOF
    ix = _build_index(spark)
    log.append("delete", now=110, ids=["doc005"])
    ix = api.vdelete(ix, ["doc005"], now=110)
    P.save_snapshot(ix, snap, aof=log)  # covers seq 1

    # post-snapshot tail
    log.append("set_metadata", now=111, id="doc000", props={"lang": "fr"})
    ix = api.vset_metadata(ix, "doc000", {"lang": "fr"}, now=111)

    got = P.recover(spark, snap)
    assert got.name == "persist_ix" and got.text_fields == ("body",)
    assert _state(got) == _state(ix)


def test_aof_corrupt_tail_stops_replay(spark, tmp_path):
    """frame.go recovery rule: a corrupt record ends the readable log;
    intact prefix still replays."""
    d = str(tmp_path / "aof")
    log = P.AofLog(d)
    log.append("delete", now=100, ids=["doc001"])
    log.append("delete", now=101, ids=["doc002"])
    # corrupt the second record's payload without fixing the crc, and
    # append garbage after it
    lines = open(log.path).read().splitlines()
    rec = json.loads(lines[1])
    rec["payload"]["ids"] = ["docXXX"]
    lines[1] = json.dumps(rec, sort_keys=True)
    lines.append("{not json")
    open(log.path, "w").write("\n".join(lines) + "\n")

    fresh = P.AofLog(d)
    recs = fresh.records()
    assert [r["seq"] for r in recs] == [1]
    replayed = fresh.replay(_build_index(spark))
    dels = {r.id for r in replayed.vectors.where("deleted").collect()}
    assert dels == {"doc001"}


def test_aof_append_after_corrupt_tail_is_recoverable(spark, tmp_path):
    """Reopening a log with a torn/corrupt tail TRUNCATES the bad bytes
    before the first append (frame.go truncate-then-accept), so an
    acknowledged post-recovery append is visible to every future
    recovery — it must never land after a bad frame where records()
    would stop short of it."""
    d = str(tmp_path / "aof")
    log = P.AofLog(d)
    log.append("delete", now=100, ids=["doc001"])
    # torn tail: a partial record with no trailing newline
    with open(log.path, "a", encoding="utf-8") as fh:
        fh.write('{"seq": 2, "crc": 0, "payl')

    reopened = P.AofLog(d)
    assert [r["seq"] for r in reopened.records()] == [1]
    seq = reopened.append("delete", now=101, ids=["doc002"])
    assert seq == 2

    # a FRESH open (a later recovery) sees the post-recovery append
    later = P.AofLog(d)
    assert [r["seq"] for r in later.records()] == [1, 2]
    replayed = later.replay(_build_index(spark))
    dels = {r.id for r in replayed.vectors.where("deleted").collect()}
    assert dels == {"doc001", "doc002"}


def test_snapshot_rewrite_truncates_covered_prefix(spark, tmp_path):
    d = str(tmp_path / "s")
    log = P.AofLog(d)
    ix = _build_index(spark)
    log.append("delete", now=100, ids=["doc001"])
    ix = api.vdelete(ix, ["doc001"], now=100)
    P.snapshot_rewrite(ix, d, log)
    assert log.records() == []  # covered prefix dropped
    seq = log.append("delete", now=101, ids=["doc002"])
    assert seq == 2  # sequence numbering continues past the rewrite
    ix = api.vdelete(ix, ["doc002"], now=101)
    assert _state(P.recover(spark, d)) == _state(ix)


def _edges(ix):
    return sorted(tuple(r) for r in ix.edges.select(
        "src", "dst", "rel", "weight", "created_at", "deleted_at").collect())


def test_snapshot_rewrite_in_place_over_its_own_input(spark, tmp_path):
    """Compaction into the directory the live index was loaded from:
    the new snapshot is written in full before it replaces the files
    the index reads, so nothing is lost and no staging dir is left."""
    d = str(tmp_path / "s")
    log = P.AofLog(d)
    P.snapshot_rewrite(_build_index(spark), d, log)
    live = P.load_snapshot(spark, d)
    log.append("delete", now=101, ids=["doc002"])
    live = api.vdelete(live, ["doc002"], now=101)
    log.append("link", now=102, src="doc001", dst="doc003", rel="ref")
    live = api.vlink(live, "doc001", "doc003", "ref", now=102)
    want, want_edges = _state(live), _edges(live)

    P.snapshot_rewrite(live, d, log)  # reads d/vectors, writes d/vectors

    assert log.records() == []
    got = P.load_snapshot(spark, d)
    assert _state(got) == want and _edges(got) == want_edges
    assert _state(P.recover(spark, d)) == want
    assert sorted(os.listdir(d)) == ["aof.jsonl", "edges", "manifest.json", "vectors"]


def test_recover_folds_consecutive_links_into_batches(spark, tmp_path, monkeypatch):
    """recover() over 8 logged links equals the live index that applied
    them one vlink at a time, and replays them as 2 vlink_batch calls:
    one run, cut where a (src, dst, rel) key repeats (link 5 re-links
    link 1's key with a new weight). Link 8 repeats link 2's key with
    the same weight in the next run: a no-op, as when applied live."""
    d = str(tmp_path / "s")
    log = P.AofLog(d)
    live = _build_index(spark)
    P.save_snapshot(live, d, aof=log)
    links = [
        ("doc000", "doc001", "ref", 1.0, None),
        ("doc001", "doc002", "ref", 1.0, "ref_by"),
        ("doc002", "doc003", "ref", 2.0, None),
        ("doc003", "doc004", "ref", 1.0, None),
        ("doc000", "doc001", "ref", 3.0, None),
        ("doc004", "doc005", "ref", 1.0, None),
        ("doc005", "doc006", "ref", 1.0, None),
        ("doc001", "doc002", "ref", 1.0, "ref_by"),
    ]
    for now, (s, t, rel, w, inv) in enumerate(links, start=200):
        log.append("link", now=now, src=s, dst=t, rel=rel, weight=w,
                   **({"inverse": inv} if inv else {}))
        live = api.vlink(live, s, t, rel, now=now, weight=w, inverse=inv)
        # flat lineage for the live side: one vlink at a time is the
        # exponential plan the replay must avoid
        live = replace(live, edges=live.edges.localCheckpoint())

    calls = []
    batch = api.vlink_batch
    monkeypatch.setattr(api, "vlink_batch",
                        lambda ix, rows, now: calls.append(len(rows)) or batch(ix, rows, now))
    got = P.recover(spark, d)
    assert calls == [5, 5]
    assert _edges(got) == _edges(live)
    assert _state(got) == _state(live)


def test_aof_rejects_unknown_op(tmp_path):
    log = P.AofLog(str(tmp_path / "x"))
    with pytest.raises(ValueError, match="unknown AOF op"):
        log.append("drop_everything", now=1)


def test_cursor_pagination_visits_every_live_id_once(spark):
    """S7: bounded slices, keyset cursor, non-deleted only, wraps to ''
    at the end (hnsw_index.go:2846-2869 contract)."""
    ix = _build_index(spark, n=10)
    ix = api.vdelete(ix, ["doc004", "doc007"], now=200)

    seen: list[str] = []
    cursor = ""
    for _ in range(10):  # bounded loop guard
        ids, cursor = api.vget_ids_by_cursor(ix, cursor, limit=3)
        seen.extend(ids)
        if cursor == "":
            break
    assert seen == [f"doc{i:03d}" for i in range(10) if i not in (4, 7)]
    # batch bound respected
    ids, nxt = api.vget_ids_by_cursor(ix, "", limit=3)
    assert len(ids) == 3 and nxt == ids[-1]
    # degenerate limits
    assert api.vget_ids_by_cursor(ix, "", limit=0) == ([], "")
    # an exact-boundary final page still wraps to ""
    ids, nxt = api.vget_ids_by_cursor(ix, "doc008", limit=5)
    assert ids == ["doc009"] and nxt == ""
