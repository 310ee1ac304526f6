"""The ``ingest`` workload: writes beside reads on an ``api.Index``
built from a seeded base corpus, with periodic compaction and one
streaming upsert run.

Each step makes one write (``vadd_batch`` upsert with auto-link
metadata, ``vlink_batch``, ``vdelete`` or ``vreinforce``), logs it with
``AofLog.append`` and reads the new snapshot with a hybrid
``api.vsearch``. Every ``COMPACT_EVERY`` writes, the index is compacted:
``snapshot_rewrite`` into a fresh directory, then ``load_snapshot``.
The last writes of a run stay uncompacted, so the recovery check
replays them from the log. Set-up runs the plan's first cycle and one
streaming run over a second events file untimed, so the timed phase
starts on a warm JVM.

Each compaction writes a NEW snapshot directory. Rewriting into the
directory the live index was loaded from deletes the files the live
index still reads (the job fails with FAILED_READ_FILE.FILE_NOT_EXIST
and leaves ``vectors/`` and ``edges/`` empty); that is a program defect
this benchmark does not work around anywhere else.
"""

from __future__ import annotations

import os

import fixture
import oracle
from stats import dir_bytes, latency_summary

N_BASE = 200
COMPACT_EVERY = len(fixture.CYCLE_WRITES[0])
#: Nominal seconds of one write-read-compact cycle; ``--seconds`` sets
#: the number of cycles.
CYCLE_S = 5
#: Untimed cycles that run before the timed phase.
WARM_CYCLES = 1
K = 10
WRITE_VERB = {"add": "vadd_batch", "link": "vlink_batch",
              "delete": "vdelete", "reinforce": "vreinforce"}


class Ingest:
    def __init__(self, run):
        self.run = run
        self.aof_dir = os.path.join(run.work, "aof")
        self.events = os.path.join(run.work, "events.parquet")
        self.warm_events = os.path.join(run.work, "warm_events.parquet")
        self.streams: list[tuple[int, str, list, list]] = []
        self.reads: list[tuple[int, int, list]] = []  # (step, op, ids)
        self.snapshots = 0
        self.aof_bytes = 0
        self.aof_items = 0
        self.writes_since: list[int] = []
        self.since = 0

    def _snapshot_dir(self) -> str:
        self.snapshots += 1
        return os.path.join(self.run.work, f"snapshot_{self.snapshots}")

    # -- setup ---------------------------------------------------------
    def setup(self) -> None:
        from kektordb_spark import api
        from kektordb_spark.sources.persistence import AofLog

        run = self.run
        cycles = WARM_CYCLES + max(1, run.seconds // CYCLE_S)
        self.plan = fixture.ingest_plan(run.seed, N_BASE, cycles)
        self.stream_after = (WARM_CYCLES + 1) * COMPACT_EVERY
        fixture.write_events(run.seed, 600, self.events)
        fixture.write_events(run.seed, 600, self.warm_events, stream=6)
        index = api.vcreate(run.spark, "memories", auto_links=(("parent", "child_of"),),
                            text_fields=("content",))
        index, _ = run.probe.call("api", "vadd_batch", api.vadd_batch, index,
                                  self.plan["base"], now=fixture.INGEST_NOW, mode="upsert")
        self.aof = AofLog(self.aof_dir)
        self.index = self._compact(index)
        # Warm-up: the first cycles of the plan and one streaming run,
        # untimed but checked like the rest. A cold JVM ran the first
        # cycle up to 1.7x slower than the second, and by how much
        # depended on how busy the host was.
        for i in range(1, WARM_CYCLES * COMPACT_EVERY + 1):
            self._step(i, timed=False)
        self._stream(self.warm_events, timed=False)

    # -- timed phase ---------------------------------------------------
    def timed(self) -> None:
        for i in range(WARM_CYCLES * COMPACT_EVERY + 1, len(self.plan["steps"]) + 1):
            self._step(i, timed=True)

    def _step(self, i: int, timed: bool) -> None:
        """Write ``i`` and the read after it; compaction after every
        ``COMPACT_EVERY`` writes but the last; the streaming run after
        the first timed cycle."""
        run = self.run
        step = self.plan["steps"][i - 1]
        self._write(step["write"], timed)
        self.since += 1
        if timed:
            self.writes_since.append(self.since)
        self._read(step["read"], i, timed)
        if i % COMPACT_EVERY == 0 and i < len(self.plan["steps"]):
            op = run.tally.attempt()
            t = run.probe.now()
            with run.probe.request(f"compact{i}", "compaction"):
                try:
                    self.index = self._compact(self.index)
                except Exception as exc:
                    run.tally.fail(op, f"compaction after write {i}: {exc!r}"[:300])
                    raise
            if timed:
                run.jobs.append(run.probe.now() - t)
            self.since = 0
        if i == self.stream_after:
            self._stream(self.events, timed)

    def _compact(self, index):
        from kektordb_spark.sources import persistence as P

        run = self.run
        path = self._snapshot_dir()
        run.probe.call("sources.persistence", "snapshot_rewrite",
                       P.snapshot_rewrite, index, path, self.aof)
        loaded, _ = run.probe.call("sources.persistence", "load_snapshot",
                                   P.load_snapshot, run.spark, path)
        self.last_snapshot = path
        return loaded

    def _write(self, w: dict, timed: bool) -> None:
        from kektordb_spark import api

        run = self.run
        kind, now = w["kind"], w["now"]
        verb = WRITE_VERB[kind]
        op = run.tally.attempt()
        t = run.probe.now()
        with run.probe.request(f"w{op}", verb):
            try:
                if kind == "add":
                    args, records = (w["items"],), [("add_batch", {"items": w["items"],
                                                                   "mode": "upsert"})]
                    kw = {"mode": "upsert"}
                elif kind == "link":
                    args, kw = ([tuple(x) for x in w["links"]],), {}
                    records = [("link", {"src": s, "dst": d, "rel": r, "weight": wt})
                               for s, d, r, wt in w["links"]]
                else:
                    args, kw = (w["ids"],), {}
                    records = [(kind, {"ids": w["ids"]})]
                self.index, _ = run.probe.call("api", verb, getattr(api, verb),
                                               self.index, *args, now=now, **kw)
                for rec_op, payload in records:
                    self._append(rec_op, now, payload)
            except Exception as exc:
                run.tally.fail(op, f"{verb}: {exc!r}"[:300])
                raise
        if timed:
            run.writes.append(run.probe.now() - t)

    def _append(self, rec_op: str, now: int, payload: dict) -> None:
        size0 = os.path.getsize(self.aof.path) if os.path.exists(self.aof.path) else 0
        self.run.probe.call("sources.persistence", "append", self.aof.append,
                            rec_op, now, **payload)
        self.aof_bytes += os.path.getsize(self.aof.path) - size0
        self.aof_items += len(payload.get("items") or payload.get("ids") or [1])

    def _read(self, r: dict, step: int, timed: bool) -> None:
        from kektordb_spark import api

        run = self.run
        op = run.tally.attempt()
        t = run.probe.now()
        with run.probe.request(f"read{step}", "vsearch"):
            try:
                df, _ = run.probe.call("api.vsearch", "plan", api.vsearch, self.index,
                                       query=r["vector"], k=K, query_text=r["text"],
                                       alpha=r["alpha"])
                rows, _ = run.probe.call("api.vsearch", "exec", df.collect)
            except Exception as exc:
                run.tally.fail(op, f"read {step}: {exc!r}"[:300])
                return
        if timed:
            run.reads.append(run.probe.now() - t)
        self.reads.append((step, op, [r["id"] for r in rows]))

    def _stream(self, events: str, timed: bool) -> None:
        from kektordb_spark.streaming.events import ingest_upsert_run
        from pyspark.sql import functions as F

        run = self.run
        op = run.tally.attempt()
        t = run.probe.now()
        with run.probe.request("stream", "ingest_upsert"):
            final, _ = run.probe.call("streaming", "ingest_upsert", ingest_upsert_run,
                                      run.spark, events)
            df = final.select("user_id", "event_type",
                              F.round("last_value", 6).alias("last_value"),
                              "last_event_id",
                              F.col("n_versions").cast("bigint").alias("n_versions"))
            rows, _ = run.probe.call("streaming", "exec", df.collect)
        if timed:
            run.jobs.append(run.probe.now() - t)
        self.streams.append((op, events, df.columns, [tuple(r) for r in rows]))

    # -- correctness ---------------------------------------------------
    def check(self) -> None:
        """Reads return only live ids; the live index matches what the
        writes did; recovery from the last snapshot plus the log equals
        the live index; the streaming upsert equals its DuckDB oracle."""
        from kektordb_spark.sources import persistence as P
        from kektordb_spark.streaming.events import ingest_upsert_oracle_sql

        run = self.run
        added = {it["id"] for it in self.plan["base"]}
        deleted: set[str] = set()
        reinforced: dict[str, int] = {}
        live_at = {0: set(added)}
        for i, step in enumerate(self.plan["steps"], start=1):
            w = step["write"]
            if w["kind"] == "add":
                added |= {it["id"] for it in w["items"]}
            elif w["kind"] == "delete":
                deleted |= set(w["ids"])
            elif w["kind"] == "reinforce":
                for x in w["ids"]:
                    reinforced[x] = reinforced.get(x, 0) + 1
            live_at[i] = added - deleted
        for step, op, ids in self.reads:
            if len(ids) != min(K, len(live_at[step])) or len(set(ids)) != len(ids):
                run.tally.fail(op, f"read {step}: malformed result {ids}")
            elif not set(ids) <= live_at[step]:
                run.tally.fail(op, f"read {step}: returned deleted or unknown ids "
                                   f"{sorted(set(ids) - live_at[step])}")
        # one check operation per final comparison
        problem = self._state_problem(added, deleted, reinforced)
        op = run.tally.attempt()
        if problem:
            run.tally.fail(op, f"live index: {problem}")
        op = run.tally.attempt()
        try:
            rec, run.gauges["sources.persistence.recover_s"] = run.probe.call(
                "sources.persistence", "recover", self._recovered, P)
            if rec != self._dump(self.index):
                run.tally.fail(op, "recover(): snapshot + log replay differs from the live index")
        except Exception as exc:
            run.tally.fail(op, f"recover(): {exc!r}"[:300])
        for op, events, cols, rows in self.streams:
            duck = oracle.connect_events(events)
            try:
                res = duck.execute(ingest_upsert_oracle_sql("duckdb"))
                problem = oracle.table_problem(cols, rows, [d[0] for d in res.description],
                                               res.fetchall())
            finally:
                duck.close()
            if problem:
                run.tally.fail(op, f"ingest_upsert_run: {problem}")

    def _recovered(self, P):
        return self._dump(P.recover(self.run.spark, self.last_snapshot, self.aof_dir))

    @staticmethod
    def _dump(index) -> tuple:
        """Both tables as sorted, comparable row lists."""
        def canon(v):
            return tuple(sorted(v.items())) if isinstance(v, dict) else v

        def rows(df):
            return sorted(repr(tuple((k, canon(v)) for k, v in sorted(r.asDict().items())))
                          for r in df.collect())

        return rows(index.vectors), rows(index.edges)

    def _state_problem(self, added: set, deleted: set, reinforced: dict) -> str | None:
        """The live index against the write plan: the same ids, the same
        deletions and the access counts the reinforcements imply."""
        got = {r["id"]: (r["deleted"], r["access_count"])
               for r in self.index.vectors.select("id", "deleted", "access_count").collect()}
        if set(got) != added:
            return f"{len(got)} ids, expected {len(added)}"
        for i, (is_deleted, count) in got.items():
            if is_deleted != (i in deleted) or count != reinforced.get(i, 0):
                return f"id {i}: deleted={is_deleted} access_count={count}"
        return None

    # -- per-layer numbers ----------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        since = self.writes_since
        return {
            "api.writes_since_compaction": sum(since) / len(since) if since else 0.0,
            "sources.persistence.snapshot_bytes": float(dir_bytes(self.last_snapshot)),
            "sources.persistence.aof_bytes_per_item":
                self.aof_bytes / self.aof_items if self.aof_items else 0.0,
            "api.write_p50_s": latency_summary(self.run.writes)["p50"] or 0.0,
        }
