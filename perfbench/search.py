"""The ``search`` workload: read requests of every kind over the index
that ``tables.load_tables`` builds from a seeded fixture."""

from __future__ import annotations

import glob
import os
import tempfile

import numpy as np
import pyarrow.parquet as pq

import fixture
import oracle
from stats import dir_bytes

#: Fixture size relative to the driver's sf0.001 row counts.
SCALE = 0.3
#: Nominal seconds of one request round; ``--seconds`` sets the rounds.
ROUND_S = 10
K = 10

LAYER = {
    "knn_exact": "operators.knn_planner",
    "knn_lsh": "operators.knn_planner",
    "pq": "operators.pq",
    "nsw": "operators.nsw",
    "bm25": "functions.text",
    "vsearch_hybrid": "api.vsearch",
    "vsearch_filter": "api.vsearch",
    "graph_bfs": "operators.graph",
    "graph_traverse": "operators.graph",
    "graph_find_path": "operators.graph",
}
ANN_KINDS = ("knn_lsh", "pq", "nsw")
#: Request kinds of round 0 that run before the timed phase.
WARM_KINDS = ("knn_exact",)
TRAVERSE_PATH = ["in_order", "placed_by"]


class Search:
    def __init__(self, run):
        self.run = run
        self.dir = os.path.join(run.work, "fixture")
        self.results: list[tuple[dict, int, list]] = []
        self.recall: dict[str, list[float]] = {k: [] for k in ANN_KINDS}

    # -- setup ---------------------------------------------------------
    def setup(self) -> None:
        from kektordb_spark.tables import load_tables

        run = self.run
        fixture.write_fixture(run.seed, SCALE, self.dir)
        meta = pq.read_metadata(os.path.join(self.dir, "embeddings.parquet"))
        self.n_vectors = meta.num_rows
        self.n_parts = pq.read_metadata(os.path.join(self.dir, "part.parquet")).num_rows
        _, run.gauges["tables.load_s"] = run.probe.call(
            "tables", "load", load_tables, run.spark, self.dir, poll=True)
        mats = glob.glob(os.path.join(tempfile.gettempdir(), "kektordb_mat_*"))
        run.gauges["tables.index_bytes"] = sum(map(dir_bytes, mats))
        self.index = self._vsearch_index()
        rounds = max(1, run.seconds // ROUND_S)
        reqs = fixture.search_requests(run.seed, 1 + rounds, self.n_vectors, self.n_parts)
        n = len(fixture.SEARCH_KINDS)
        # Warm-up: round 0 runs its WARM_KINDS requests, untimed but
        # checked. The first request after load_tables ran twice as long
        # as the same kind in the next round; the others did not.
        for req in reqs[:n]:
            if req["kind"] in WARM_KINDS:
                self._request(req, timed=False)
        self.requests = reqs[n:]

    def _vsearch_index(self):
        """The documents with embeddings as an ``api.Index`` (meta
        carries content and lang), as the registry's facade query
        builds it."""
        from kektordb_spark import api
        from pyspark.sql import functions as F

        spark = self.run.spark
        docs, emb = spark.table("docs_tok"), spark.table("emb")
        vecs = docs.join(emb, docs.doc_id == emb.vec_id).select(
            F.col("doc_id").cast("string").alias("id"), "v", "norm",
            F.lit(0).cast("long").alias("created_at"),
            F.lit(None).cast("long").alias("last_accessed"),
            F.lit(0).alias("access_count"), F.lit(False).alias("pinned"),
            F.lit(False).alias("historical"),
            F.lit("episodic").alias("memory_layer"),
            F.lit(None).cast("string").alias("decay_model"),
            F.lit(False).alias("deleted"),
            F.create_map(F.lit("content"), F.col("text"),
                         F.lit("lang"), F.col("lang")).alias("meta"),
        )
        return api.Index(spark=spark, name="docs", metric="cosine",
                         vectors=vecs, text_fields=("content",))

    # -- timed phase ---------------------------------------------------
    def timed(self) -> None:
        for req in self.requests:
            self._request(req, timed=True)

    def _request(self, req: dict, timed: bool) -> None:
        run = self.run
        layer = LAYER[req["kind"]]
        op = run.tally.attempt()
        t = run.probe.now()
        with run.probe.request(req["id"], req["kind"]):
            try:
                df, _ = run.probe.call(layer, "plan", self._plan, req)
                rows, _ = run.probe.call(layer, "exec", df.collect)
            except Exception as exc:  # a failed request is counted, not fatal
                run.tally.fail(op, f"{req['kind']} {req['id']}: {exc!r}"[:300])
                return
        if timed:
            run.reads.append(run.probe.now() - t)
        self.results.append((req, op, [tuple(r) for r in rows]))

    def _plan(self, req: dict):
        """The public call for one request; returns its DataFrame."""
        from kektordb_spark import api
        from kektordb_spark.functions import text as TX
        from kektordb_spark.operators import graph as G
        from kektordb_spark.operators import knn_planner as KP
        from kektordb_spark.operators import nsw as NSW
        from kektordb_spark.operators import pq as PQ
        from pyspark.sql import functions as F

        spark, kind = self.run.spark, req["kind"]
        if kind in ("knn_exact", "knn_lsh", "pq"):
            emb = spark.table("emb")
            if kind == "knn_exact":
                qv = req["vector"]
                queries = spark.createDataFrame(
                    [(0, qv, float(np.linalg.norm(qv)))],
                    "query_id int, qv array<double>, qnorm double")
            else:
                queries = emb.where(F.col("vec_id") == req["query_id"]).select(
                    F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                    F.col("norm").alias("qnorm"))
            if kind == "pq":
                return PQ.pq_knn(spark.table("pq_codes_full"),
                                 spark.table("pq_cb_full"), queries, k=K, m=8)
            return KP.knn_search(
                emb, queries, k=K, strategy=kind[4:], id_col="vec_id",
                vec_col="v", norm_col="norm",
                lsh_sig=spark.table("lsh_sig") if kind == "knn_lsh" else None)
        if kind == "nsw":
            return NSW.nsw_search(spark, adj_source="nng", k=K,
                                  query_pred=f"q.vec_id = {req['query_id']}")
        if kind == "bm25":
            scored = TX.bm25_scores(spark.table("docs_tok"), req["tokens"])
            return scored.select("doc", F.round("score", 6).alias("score")).orderBy(
                F.col("score").desc(), F.col("doc")).limit(K)
        if kind == "vsearch_hybrid":
            return api.vsearch(self.index, query=req["vector"], k=K,
                               query_text=" ".join(req["tokens"]),
                               alpha=req["alpha"])
        if kind == "vsearch_filter":
            return api.vsearch(self.index, query=req["vector"], k=K,
                               filter=req["filter"])
        edges = spark.table("edges")
        if kind == "graph_find_path":
            return G.find_path(edges, req["src"], req["dst"], max_depth=4)
        roots = spark.createDataFrame([(r,) for r in req["roots"]], "node string")
        if kind == "graph_bfs":
            return G.bfs(edges, roots, max_depth=3).select(
                "node", F.col("depth").cast("int").alias("depth"))
        return G.traverse(edges, roots, TRAVERSE_PATH)

    # -- correctness ---------------------------------------------------
    def check(self) -> None:
        """Check every result after the timed phase: exact answers
        against NumPy or DuckDB, approximate ones for shape, with their
        recall against the exact top-10 as a per-layer number."""
        from kektordb_spark.functions import text as TX
        from kektordb_spark.operators import graph as G
        from kektordb_spark.tables import with_oracle_ctes

        run = self.run
        emb = pq.read_table(os.path.join(self.dir, "embeddings.parquet"))
        vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        docs = pq.read_table(os.path.join(self.dir, "documents.parquet"),
                             columns=["doc_id", "lang"]).to_pydict()
        lang = dict(zip(docs["doc_id"], docs["lang"]))
        duck = oracle.connect(self.dir)
        try:
            for req, op, rows in self.results:
                kind = req["kind"]
                problem = None
                if kind == "knn_exact":  # rows (query_id, neighbor_id, dist, rank)
                    ranked = [r[1] for r in sorted(rows, key=lambda r: r[3])]
                    problem = oracle.topk_problem(
                        ranked, oracle.cosine_dist(vecs, req["vector"]), K)
                elif kind in ANN_KINDS:
                    problem = self._ann(kind, req, rows, vecs)
                elif kind == "vsearch_filter":
                    allowed = {a.split(" = ")[1] for a in req["filter"].split(" OR ")}
                    dist = oracle.cosine_dist(vecs, req["vector"])
                    mask = np.array([lang.get(i) in allowed for i in range(len(vecs))])
                    dist[~mask] = np.inf
                    ranked = [int(r[1]) for r in sorted(rows)]  # rows (rank, id)
                    problem = oracle.topk_problem(ranked, dist, K)
                elif kind == "vsearch_hybrid":
                    ids = [int(r[1]) for r in rows]
                    if len(ids) != K or len(set(ids)) != K or max(ids) >= len(vecs):
                        problem = f"malformed hybrid result {ids}"
                elif kind == "bm25":
                    sql = with_oracle_ctes(
                        TX.bm25_oracle_sql("duckdb", req["tokens"], K), ["docs_tok"])
                    problem = oracle.ordered_problem(rows, duck.execute(sql).fetchall())
                else:
                    sql = with_oracle_ctes(self._graph_oracle(req, G), ["edges"])
                    problem = oracle.set_problem(rows, duck.execute(sql).fetchall())
                if problem:
                    run.tally.fail(op, f"{kind} {req['id']}: {problem}"[:300])
        finally:
            duck.close()

    def _ann(self, kind: str, req: dict, rows: list, vecs: np.ndarray) -> str | None:
        qid = req["query_id"]
        ids = [int(r[1]) for r in rows]
        if len(ids) > K or len(set(ids)) != len(ids):
            return f"malformed {kind} result {ids}"
        q = vecs[qid]
        if kind == "pq":
            dist = ((vecs - q) ** 2).sum(axis=1)
        else:
            dist = oracle.cosine_dist(vecs, q)
        if kind == "nsw":
            dist[qid] = np.inf
        truth = set(np.lexsort((np.arange(len(dist)), dist))[:K].tolist())
        self.recall[kind].append(len(truth & set(ids)) / K)
        return None

    @staticmethod
    def _graph_oracle(req: dict, G) -> str:
        if req["kind"] == "graph_bfs":
            return G.bfs_oracle_sql(req["roots"], 3, None)
        if req["kind"] == "graph_traverse":
            roots = ", ".join(f"'{r}'" for r in req["roots"])
            return G.traverse_oracle_sql(f"src IN ({roots})", TRAVERSE_PATH, None)
        return G.find_path_oracle_sql(req["src"], req["dst"], 4, None)

    # -- per-layer numbers ----------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        return {
            f"{LAYER[kind]}.recall_at_10": float(np.mean(vals)) if vals else 0.0
            for kind, vals in self.recall.items()
        }

