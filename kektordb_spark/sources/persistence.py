"""S11 persistence: snapshot + append-only operation log + recovery.

Reference surface mirrored (pkg/persistence/aof.go, lazy_aof.go,
frame.go; engine boot = load snapshot then replay the AOF):

  * the reference wraps each logged command in a
    [Magic][Op][Len][CRC][Data] frame so torn/corrupt tails are
    DETECTED at recovery and replay stops at the last intact frame —
    here each JSONL record carries a crc32 over its canonical payload
    encoding, with the same stop-at-first-bad-frame recovery rule;
  * snapshot + AOF-rewrite: a snapshot persists the full index state
    and records the log position it covers; records at or before that
    position become dead weight that the next rewrite drops
    (`snapshot_rewrite`), exactly the reference's snapshot-then-
    truncate cycle (lazy_aof.go ReplaceWith / Truncate);
  * recovery = load snapshot + replay newer records through the SAME
    public API verbs the live system uses (the reference replays RESP
    commands through its normal dispatch) — so replay semantics can
    never drift from live semantics.

Spark-first framing: the snapshot is parquet (the engine's native
storage — S9 export is already the interchange), and the AOF is the
single-writer COMMAND log of the control plane, not a data-plane
stream: at scale this file is a cloud commit log (a Delta/Iceberg
transaction log plays exactly this role for the table state, which is
why the r1-r4 rounds marked S11 "n/a by design" — this module adds
the reference-shaped facade on top for operational parity: a user of
the reference's save/load cycle can run the same cycle here).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import zlib

from pyspark.sql import SparkSession

from kektordb_spark import api

_MANIFEST = "manifest.json"
_AOF = "aof.jsonl"

#: op name -> handler(index, record) -> Index. Replay goes through the
#: public API verbs — never a private write path.
_REPLAY = {
    "add_batch": lambda ix, r: api.vadd_batch(
        ix, r["items"], now=r["now"], mode=r.get("mode", "upsert")),
    "delete": lambda ix, r: api.vdelete(ix, r["ids"], now=r["now"]),
    "link": lambda ix, r: _link_run(ix, _link_rows(r)),
    "unlink": lambda ix, r: api.vunlink(
        ix, r["src"], r["dst"], r["rel"], now=r["now"],
        hard=r.get("hard", False)),
    "set_metadata": lambda ix, r: api.vset_metadata(
        ix, r["id"], r["props"], now=r["now"]),
    "reinforce": lambda ix, r: api.vreinforce(ix, r["ids"], now=r["now"]),
}


def _link_rows(r: dict) -> list[tuple]:
    """The (src, dst, rel, weight, now) rows one logged ``link`` adds,
    its inverse edge included (api.vlink)."""
    w = r.get("weight", 1.0)
    rows = [(r["src"], r["dst"], r["rel"], w, r["now"])]
    if r.get("inverse"):
        rows.append((r["dst"], r["src"], r["inverse"], w, r["now"]))
    return rows


def _link_run(index: api.Index, rows: list[tuple]) -> api.Index:
    return api.vlink_batch(index, rows, now=rows[-1][4]) if rows else index


def _canon(payload: dict) -> bytes:
    return json.dumps(payload, sort_keys=True, separators=(",", ":")).encode()


class AofLog:
    """Append-only command log: one JSONL record per operation,
    `{"seq": n, "crc": crc32(payload), "payload": {...}}`. Single
    writer (the reference serializes writes through LazyAOFWriter's one
    goroutine; here the caller owns that discipline)."""

    def __init__(self, directory: str):
        self.dir = directory
        os.makedirs(directory, exist_ok=True)
        self.path = os.path.join(directory, _AOF)
        # Truncate any torn/corrupt tail BEFORE accepting writes
        # (frame.go/lazy_aof semantics): without this, append() would
        # write after the bad frame and the acknowledged record would be
        # invisible to every future recovery (records() stops at the
        # first bad frame).
        recs = self._truncate_torn_tail()
        self._next_seq = 1 + max((r["seq"] for r in recs), default=0)

    def append(self, op: str, now: int, **payload) -> int:
        """Log one operation; returns its sequence number. The payload
        must be JSON-serializable (ids, items, props...)."""
        if op not in _REPLAY:
            raise ValueError(f"unknown AOF op: {op}")
        body = dict(payload, op=op, now=now)
        rec = {"seq": self._next_seq, "crc": zlib.crc32(_canon(body)),
               "payload": body}
        with open(self.path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(rec, sort_keys=True) + "\n")
        self._next_seq += 1
        return rec["seq"]

    def _scan(self) -> tuple[list[dict], int, int]:
        """Parse the log; returns (intact records in seq order,
        byte length of the intact prefix, total file byte length).
        Recovery rule (frame.go semantics): a torn / corrupt /
        out-of-order record ends the readable log — everything before
        it counts, nothing after (a bad frame means the writer died
        mid-write; later bytes are not trustworthy)."""
        out: list[dict] = []
        good = 0
        if not os.path.exists(self.path):
            return out, 0, 0
        with open(self.path, "rb") as fh:
            raw = fh.read()
        for line in raw.splitlines(keepends=True):
            if not line.endswith(b"\n"):
                break  # torn final line: the writer died mid-write
            try:
                rec = json.loads(line.decode("utf-8"))
                body = rec["payload"]
                crc_ok = rec["crc"] == zlib.crc32(_canon(body))
            except (ValueError, KeyError, TypeError, UnicodeDecodeError):
                break
            # seq must be exactly previous+1 (any start is fine for
            # the FIRST record — a rewrite may truncate history)
            if not crc_ok or (out and rec["seq"] != out[-1]["seq"] + 1):
                break
            out.append(rec)
            good += len(line)
        return out, good, len(raw)

    def _truncate_torn_tail(self) -> list[dict]:
        """If bytes exist past the intact prefix, atomically rewrite the
        file down to that prefix (tmp + os.replace, same as rewrite())
        so subsequent appends land where recovery can see them."""
        recs, good, total = self._scan()
        if good < total:
            tmp = self.path + ".tmp"
            with open(self.path, "rb") as fh:
                intact = fh.read(good)
            with open(tmp, "wb") as fh:
                fh.write(intact)
            os.replace(tmp, self.path)
        return recs

    def records(self) -> list[dict]:
        """All intact records in seq order (stop-at-first-bad-frame)."""
        return self._scan()[0]

    def replay(self, index: api.Index, from_seq: int = 0) -> api.Index:
        """Apply every intact record with seq > from_seq through the
        public API verbs, in order.

        A run of consecutive ``link`` records is applied as ONE
        ``api.vlink_batch`` whose rows keep their own logged times:
        each vlink_batch reads the edge table twice, so one call per
        replayed link doubled the plan with every link (recovery time
        exponential in the link count). A run is cut where a (src,
        dst, rel) key repeats; links with distinct keys never see each
        other's rows, so the batch outcome is exactly the sequential
        one."""
        run: list[tuple] = []
        for rec in self.records():
            if rec["seq"] <= from_seq:
                continue
            body = rec["payload"]
            if body["op"] != "link":
                index = _REPLAY[body["op"]](_link_run(index, run), body)
                run = []
                continue
            rows = _link_rows(body)
            if {r[:3] for r in rows} & {r[:3] for r in run}:
                index, run = _link_run(index, run), []
            run += rows
        return _link_run(index, run)

    def rewrite(self, covered_seq: int) -> None:
        """Drop records at or <= covered_seq (they are inside a
        snapshot now) — the reference's post-snapshot AOF truncation."""
        keep = [r for r in self.records() if r["seq"] > covered_seq]
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            for r in keep:
                fh.write(json.dumps(r, sort_keys=True) + "\n")
        os.replace(tmp, self.path)


def save_snapshot(index: api.Index, directory: str,
                  aof: AofLog | None = None) -> None:
    """Persist the FULL index state (including tombstones — replaying
    an unlink over a lost tombstone would resurrect semantics) plus a
    manifest with the catalog config and the covered AOF position.

    ``directory`` may be the snapshot ``index`` was loaded from
    (compaction in place): both tables are written in full to sibling
    temp dirs before either replaces its old dir, since either plan may
    still read the old files. The manifest is swapped in last. The
    passed-in index reads replaced files afterwards; continue from
    ``load_snapshot(spark, directory)``."""
    os.makedirs(directory, exist_ok=True)
    tag = uuid.uuid4().hex
    staged = {}
    try:
        for part in ("vectors", "edges"):
            staged[part] = os.path.join(directory, f".{part}.{tag}.tmp")
            getattr(index, part).write.parquet(staged[part])
    except BaseException:
        for tmp in staged.values():
            shutil.rmtree(tmp, ignore_errors=True)
        raise
    for part, tmp in staged.items():
        final = os.path.join(directory, part)
        # os.replace cannot overwrite a non-empty directory: move the
        # old one aside first, then drop it
        old = os.path.join(directory, f".{part}.{tag}.old")
        if os.path.exists(final):
            os.replace(final, old)
        os.replace(tmp, final)
        shutil.rmtree(old, ignore_errors=True)
    manifest = {
        "name": index.name,
        "metric": index.metric,
        "precision": index.precision,
        "auto_links": list(map(list, index.auto_links)),
        "text_fields": list(index.text_fields),
        "aof_seq": max((r["seq"] for r in aof.records()), default=0)
        if aof else 0,
    }
    tmp = os.path.join(directory, _MANIFEST + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, sort_keys=True, indent=1)
    os.replace(tmp, os.path.join(directory, _MANIFEST))


def load_snapshot(spark: SparkSession, directory: str) -> api.Index:
    with open(os.path.join(directory, _MANIFEST), encoding="utf-8") as fh:
        m = json.load(fh)
    return api.Index(
        spark=spark, name=m["name"], metric=m["metric"],
        precision=m["precision"],
        auto_links=tuple(tuple(x) for x in m["auto_links"]),
        text_fields=tuple(m["text_fields"]),
        vectors=spark.read.parquet(os.path.join(directory, "vectors")),
        edges=spark.read.parquet(os.path.join(directory, "edges")),
    )


def recover(spark: SparkSession, directory: str,
            aof_dir: str | None = None) -> api.Index:
    """Boot sequence (the reference engine's startup): load the
    snapshot, then replay AOF records newer than the snapshot's
    covered position."""
    index = load_snapshot(spark, directory)
    with open(os.path.join(directory, _MANIFEST), encoding="utf-8") as fh:
        covered = json.load(fh)["aof_seq"]
    log = AofLog(aof_dir or directory)
    return log.replay(index, from_seq=covered)


def snapshot_rewrite(index: api.Index, directory: str, aof: AofLog) -> None:
    """Snapshot + truncate the covered AOF prefix — the compaction
    cycle (lazy_aof.go ReplaceWith). ``directory`` may be the one the
    live index was loaded from (see :func:`save_snapshot`)."""
    covered = max((r["seq"] for r in aof.records()), default=0)
    save_snapshot(index, directory, aof=aof)
    aof.rewrite(covered)
