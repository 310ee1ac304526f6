"""Engine facade: the reference's mutation/API surface as DataFrame
transforms (SURVEY.md §2.1 S1-S9/S12, §2.5 H7-H8, §2.6 G1-G2/G13).

The reference mutates in-RAM structs under sharded locks; the Spark
shape is MERGE-semantics expressed as pure DataFrame functions
(old ⟕ changes → coalesce), so the same code runs against Delta MERGE
at scale — every function here is the read-side of exactly one MERGE
statement and touches each table once.

State model: an :class:`Index` holds the ``vectors`` and ``edges``
DataFrames plus per-index config (metric, precision, decay settings —
reference VCreate, ops.go:131-209). Mutations return NEW Index objects
(immutable-snapshot semantics, which is also what a Delta commit is).
All timestamps are caller-supplied (``now``) — never wall clock — so
tests are deterministic (FIXTURES.md rule).

Vectors schema: id string, v array<double>, norm double,
  created_at bigint, last_accessed bigint, access_count int,
  pinned boolean, historical boolean, memory_layer string,
  decay_model string, deleted boolean, meta map<string,string>.
Edges schema: src, dst, rel string, weight double,
  created_at bigint, deleted_at bigint (0 = active).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

VECTOR_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("v", T.ArrayType(T.DoubleType())),
    T.StructField("norm", T.DoubleType()),
    T.StructField("created_at", T.LongType()),
    T.StructField("last_accessed", T.LongType()),
    T.StructField("access_count", T.IntegerType()),
    T.StructField("pinned", T.BooleanType()),
    T.StructField("historical", T.BooleanType()),
    T.StructField("memory_layer", T.StringType()),
    T.StructField("decay_model", T.StringType()),
    T.StructField("deleted", T.BooleanType()),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
])

EDGE_SCHEMA = T.StructType([
    T.StructField("src", T.StringType()),
    T.StructField("dst", T.StringType()),
    T.StructField("rel", T.StringType()),
    T.StructField("weight", T.DoubleType()),
    T.StructField("created_at", T.LongType()),
    T.StructField("deleted_at", T.LongType()),
])

KV_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("value", T.BinaryType()),
])

_NORM = "sqrt(aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE), (s, p) -> s + p))"


@dataclass(frozen=True)
class Index:
    """One vector index (reference hnsw.Index + config,
    hnsw_index.go:42-120) as immutable DataFrame snapshots."""

    spark: SparkSession
    name: str
    metric: str = "cosine"
    precision: str = "float32"
    vectors: DataFrame = None
    edges: DataFrame = None
    auto_links: tuple = ()  # (metadata_field, relation_type) pairs
    # Metadata fields with a text index (reference DB.textIndex map,
    # core.go:902-930) — the candidate set detect_text_field scans.
    # Empty = no field was text-indexed; autodetect then falls back to
    # the priority list over observed meta keys.
    text_fields: tuple = ()

    def __post_init__(self):
        if self.vectors is None:
            object.__setattr__(
                self, "vectors", self.spark.createDataFrame([], VECTOR_SCHEMA)
            )
        if self.edges is None:
            object.__setattr__(
                self, "edges", self.spark.createDataFrame([], EDGE_SCHEMA)
            )


def vcreate(
    spark: SparkSession, name: str, metric: str = "cosine",
    precision: str = "float32", auto_links: tuple = (),
    text_fields: tuple = (),
) -> Index:
    """S1 VCreate (ops.go:131-209): catalog entry + empty tables."""
    if metric not in ("cosine", "euclidean", "dot"):
        raise ValueError(f"unknown metric {metric}")
    return Index(spark=spark, name=name, metric=metric,
                 precision=precision, auto_links=tuple(auto_links),
                 text_fields=tuple(text_fields))


class IndexExistsError(ValueError):
    """Duplicate index name on create — HTTP 409 in the reference
    (ops.go:130 'index with the same name already exists')."""


class IndexNotFoundError(KeyError):
    """Unknown index — HTTP 404 in the reference."""


class Catalog:
    """Index catalog (GET/POST/DELETE /vector/indexes*,
    http_handlers.go:74-75, 131-132): named Index snapshots with the
    reference's create/duplicate/delete/not-found contract. On a
    cluster this is the metastore — here a plain dict of immutable
    Index values."""

    def __init__(self) -> None:
        self._indexes: dict[str, Index] = {}

    def create(self, spark: SparkSession, name: str, **kw) -> Index:
        if name in self._indexes:
            raise IndexExistsError(f"index '{name}' already exists")
        ix = vcreate(spark, name, **kw)
        self._indexes[name] = ix
        return ix

    def list(self) -> list[str]:
        return sorted(self._indexes)

    def get(self, name: str) -> Index:
        if name not in self._indexes:
            raise IndexNotFoundError(f"index '{name}' not found")
        return self._indexes[name]

    def put(self, index: Index) -> None:
        """Store an updated snapshot (every mutation returns a new
        Index; the catalog is where 'current' lives)."""
        self._indexes[index.name] = index

    def delete(self, name: str) -> None:
        if name not in self._indexes:
            raise IndexNotFoundError(f"index '{name}' not found")
        del self._indexes[name]


def _rows_to_df(spark: SparkSession, items: list[dict], now: int) -> DataFrame:
    rows = []
    for it in items:
        meta = {str(k): str(v) for k, v in (it.get("meta") or {}).items()}
        v = [float(x) for x in it["vector"]] if it.get("vector") else None
        rows.append((
            it["id"], v, None,
            int(it.get("created_at", now)), it.get("last_accessed"),
            int(it.get("access_count", 0)), bool(it.get("pinned", False)),
            bool(it.get("historical", False)),
            it.get("memory_layer", "episodic"), it.get("decay_model"),
            False, meta,
        ))
    df = spark.createDataFrame(rows, VECTOR_SCHEMA)
    return df.withColumn(
        "norm", F.when(F.col("v").isNotNull(), F.expr(_NORM)).otherwise(F.lit(None))
    )


def upsert(base: DataFrame, updates: DataFrame, key: str = "id") -> DataFrame:
    """MERGE-shaped upsert: latest row wins per key. One full-outer
    join; at scale this is Delta ``MERGE INTO`` on the same condition."""
    cols = base.columns
    u = updates.select(*cols)
    joined = base.alias("b").join(u.alias("u"), key, "full_outer")
    picked = [
        F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c) if c != key
        else F.col(key)
        for c in cols
    ]
    return joined.select(*picked)


class DuplicateIdError(ValueError):
    """Raised by strict-mode adds on an existing id — the reference's
    VAdd/VAddBatch/VImport all reject duplicates ("ID 'x' already
    exists", hnsw_index.go:527/1041/1604; HTTP 409 at
    http_handlers.go:486). Upserts happen only through explicit
    metadata/evolve paths."""


class SelfLinkError(ValueError):
    """Raised when source == target — rejected with HTTP 400 in the
    reference (http_handlers.go:880)."""


def vadd_batch(index: Index, items: list[dict], now: int, mode: str = "strict") -> Index:
    """S2/S3 VAdd/VAddBatch (ops.go:268-395, 1384-1501): add rows,
    inject system metadata defaults, derive auto-link edges (G7,
    ops.go:1699-1735).

    ``mode='strict'`` (the reference semantics) rejects ids that
    already exist among non-deleted rows or repeat within the batch —
    one semi-join instead of the reference's per-item map probe. The
    clash check deliberately ignores soft-deleted rows: the reference's
    Delete removes the id from its externalToInternalID map
    (hnsw_index.go:2292-2325), so a subsequent Add of the same id
    passes its map probe and succeeds — re-add-after-delete is allowed
    there, and here it upserts over the tombstone with the same
    user-visible result (tests/test_api.py::test_readd_after_delete).
    The existence probe is an eager driver round-trip by design: strict
    mode's contract is a synchronous DuplicateIdError (HTTP 409 at
    http_handlers.go:486); pipelines that can't afford a per-call job
    use ``mode='upsert'``, the bulk MERGE path (latest row wins)."""
    new = _rows_to_df(index.spark, items, now)
    if mode == "strict":
        ids = [it["id"] for it in items]
        if len(set(ids)) != len(ids):
            dup = sorted({i for i in ids if ids.count(i) > 1})[0]
            raise DuplicateIdError(f"ID '{dup}' already exists")
        clash = (
            index.vectors.where(~F.col("deleted"))
            .join(new.select("id"), "id", "left_semi")
            .select("id").limit(1).collect()
        )
        if clash:
            raise DuplicateIdError(f"ID '{clash[0]['id']}' already exists")
    vectors = upsert(index.vectors, new)
    edges = index.edges
    for fld, rel in index.auto_links:
        derived = (
            new.where(F.col("meta").getItem(fld).isNotNull())
            .select(
                F.col("id").alias("src"),
                F.col("meta").getItem(fld).alias("dst"),
                F.lit(rel).alias("rel"),
                F.lit(1.0).alias("weight"),
                F.lit(now).cast("long").alias("created_at"),
                F.lit(0).cast("long").alias("deleted_at"),
            )
        )
        edges = edges.unionByName(derived)
    return replace(index, vectors=vectors, edges=edges)


def vget(index: Index, ids: list[str]) -> DataFrame:
    """S6 VGet/VGetMany: point lookups (pushed-down IN filter)."""
    return index.vectors.where(
        F.col("id").isin(ids) & ~F.col("deleted")
    )


def vget_ids_by_cursor(
    index: Index, cursor: str = "", limit: int = 100,
) -> tuple[list[str], str]:
    """S7 VGetIDsByCursor (ops.go:1861-1873, hnsw_index.go:2846-2869):
    resumable incremental ID scan — the Gardener's background walk uses
    this to visit the corpus in bounded slices across cycles.

    The reference's cursor is an internal insert-order array position
    that wraps to 0 at the end; a distributed engine has no stable
    array positions, so the Spark-first cursor is KEYSET pagination on
    the external id (`id > cursor ORDER BY id LIMIT n` — pushed filter
    + TakeOrderedAndProject, never a global sort/offset). Same
    contract: non-deleted ids only, at most ``limit`` per call, and
    the returned cursor wraps to "" when the scan reaches the end so
    the next call restarts the cycle (hnsw_index.go:2863-2866)."""
    if limit <= 0:
        return [], cursor
    rows = (
        index.vectors.where(~F.col("deleted"))
        .where(F.col("id") > cursor)
        .select("id")
        .orderBy("id")
        .limit(limit + 1)  # +1 probes "is there more" in the same job
        .collect()
    )
    ids = [r["id"] for r in rows[:limit]]
    next_cursor = ids[-1] if len(rows) > limit else ""
    return ids, next_cursor


def vdelete(index: Index, ids: list[str], now: int) -> Index:
    """S5 VDelete + G11 cascade (ops.go:401-489): soft-delete rows and
    every touching edge, one pass over each table."""
    vectors = index.vectors.withColumn(
        "deleted",
        F.when(F.col("id").isin(ids), F.lit(True)).otherwise(F.col("deleted")),
    )
    touch = F.col("src").isin(ids) | F.col("dst").isin(ids)
    edges = index.edges.withColumn(
        "deleted_at",
        F.when(touch & (F.col("deleted_at") == 0), F.lit(now).cast("long"))
        .otherwise(F.col("deleted_at")),
    )
    return replace(index, vectors=vectors, edges=edges)


def vreinforce(index: Index, ids: list[str], now: int) -> Index:
    """H7 VReinforce (ops.go:697-781): last_accessed=now,
    access_count+=1 for the given ids."""
    hit = F.col("id").isin(ids)
    vectors = (
        index.vectors
        .withColumn("last_accessed",
                    F.when(hit, F.lit(now).cast("long")).otherwise(F.col("last_accessed")))
        .withColumn("access_count",
                    F.when(hit, F.col("access_count") + 1).otherwise(F.col("access_count")))
    )
    return replace(index, vectors=vectors)


def _merge_meta(col, props: dict):
    """meta-map merge, new props win (read side of an UPDATE SET
    meta=...)."""
    if not props:
        return col
    lit_map = F.create_map(
        *[F.lit(x) for kv in props.items() for x in (str(kv[0]), str(kv[1]))]
    )
    keys = [str(k) for k in props]
    return F.map_concat(F.map_filter(col, lambda k, _: ~k.isin(*keys)), lit_map)


def vset_metadata(index: Index, id_: str, props: dict, now: int) -> Index:
    """H8 VSetMetadata (ops.go:785-836): read-modify-write merge of the
    meta map (map_concat right-biased — new props win)."""
    vectors = index.vectors.withColumn(
        "meta",
        F.when(F.col("id") == id_, _merge_meta(F.col("meta"), props))
        .otherwise(F.col("meta")),
    )
    return replace(index, vectors=vectors)


def resolve_conflict(
    index: Index, reflection_id: str, resolution: str, now: int,
    discard_id: str | None = None,
) -> Index:
    """resolve_conflict (internal/mcp/service.go:962-1002): mark the
    reflection resolved (status/resolution/_updated_at metadata merge);
    when the caller names a losing memory, archive it
    (_archived=true, invalidated_by=<reflection>) and soft-delete it —
    which cascades to its edges (S5/G11) — never a physical delete, so
    history survives. One metadata pass + one vdelete pass; no
    per-row driver round-trips."""
    index = vset_metadata(index, reflection_id, {
        "status": "resolved",
        "resolution": resolution,
        "_updated_at": now,
    }, now)
    if discard_id is not None:
        index = vset_metadata(index, discard_id, {
            "_archived": True,
            "invalidated_by": reflection_id,
        }, now)
        index = vdelete(index, [discard_id], now)
    return index


def vlink_batch(
    index: Index, links: list[tuple], now: int,
) -> Index:
    """G1 VLink (core/graph.go:112-182) with edge VERSIONING, batched:
    ``links`` is [(src, dst, rel, weight), ...]. Per key (src, dst,
    rel): identical active edge (weight within 1e-12) → no-op; changed
    weight → soft-close the old row + append the new version; absent →
    append. Duplicate keys within one batch resolve last-wins (the
    sequential-VLink outcome). A link may carry its own time as a fifth
    element, ``(src, dst, rel, weight, at)``, used instead of ``now``
    for its close/insert — how AOF replay applies a run of links logged
    at different times in one call.

    One MERGE statement's read-side — a broadcast join against the
    (config-sized) link batch to conditionally close old versions, and
    one anti-join to decide the inserts. NO driver round-trip per edge
    (the per-edge ``collect()`` the single-link facade used to pay).
    Self-links are rejected (http_handlers.go:880)."""
    for s, d, *_ in links:
        if s == d:
            raise SelfLinkError(
                "cannot link a node to itself (source_id equals target_id)"
            )
    # last-wins within the batch
    dedup: dict[tuple, tuple[float, int]] = {}
    for s, d, r, w, *at in links:
        dedup[(s, d, r)] = (float(w), at[0] if at else now)
    new = index.spark.createDataFrame(
        [(s, d, r, w, at) for (s, d, r), (w, at) in dedup.items()],
        "src string, dst string, rel string, new_weight double, at bigint",
    )
    keys = ["src", "dst", "rel"]
    changed = (
        F.col("new_weight").isNotNull()
        & (F.abs(F.col("weight") - F.col("new_weight")) >= 1e-12)
    )
    # close active rows whose weight changes (idempotent matches stay)
    closed = (
        index.edges.join(F.broadcast(new), keys, "left")
        .select(
            *keys, "weight", "created_at",
            F.when((F.col("deleted_at") == 0) & changed, F.col("at"))
            .otherwise(F.col("deleted_at")).alias("deleted_at"),
        )
    )
    # insert a new version unless an identical active edge exists
    active = index.edges.where(F.col("deleted_at") == 0).select(
        *keys, F.col("weight").alias("old_weight")
    )
    inserts = (
        new.join(F.broadcast(active), keys, "left")
        .where(
            F.col("old_weight").isNull()
            | (F.abs(F.col("old_weight") - F.col("new_weight")) >= 1e-12)
        )
        .select(
            *keys, F.col("new_weight").alias("weight"),
            F.col("at").alias("created_at"),
            F.lit(0).cast("long").alias("deleted_at"),
        )
    )
    return replace(index, edges=closed.unionByName(inserts))


def vlink(
    index: Index, src: str, dst: str, rel: str, now: int,
    weight: float = 1.0, inverse: str | None = None,
) -> Index:
    """G1 VLink single-edge facade — a thin wrapper over
    :func:`vlink_batch` (same versioning rules). Optional inverse edge
    same rules (graph.go:165-180)."""
    links = [(src, dst, rel, weight)]
    if inverse:
        links.append((dst, src, inverse, weight))
    return vlink_batch(index, links, now)


def vunlink(
    index: Index, src: str, dst: str, rel: str, now: int, hard: bool = False,
) -> Index:
    """G2 VUnlink (core/graph.go:187-240): soft (default) or hard."""
    match = (F.col("src") == src) & (F.col("dst") == dst) & (F.col("rel") == rel)
    if hard:
        edges = index.edges.where(~match)
    else:
        edges = index.edges.withColumn(
            "deleted_at",
            F.when(match & (F.col("deleted_at") == 0), F.lit(now).cast("long"))
            .otherwise(F.col("deleted_at")),
        )
    return replace(index, edges=edges)


def vtraverse(index: Index, start_id: str, paths: list[str]) -> dict:
    """G5 VTraverse nested response (ops.go:594-692): hydrated
    GraphNode tree for one root — ``{"id", "v", "meta",
    "connections": {path: [child GraphNode, ...]}}`` with each child's
    own ``connections`` keyed by the REMAINING dot-path, exactly the
    reference's GraphNode/Connections shape. Unknown root raises
    KeyError (the reference's VGet error).

    The per-path tree is assembled IN SPARK (one collect_list level
    per segment — operators.graph.traverse_tree); only the final
    root row (one row per path) is collected here, which is the
    point-lookup response surface, not a table scan."""
    from kektordb_spark.operators.graph import traverse_tree

    live = index.vectors.where(~F.col("deleted"))
    root_rows = live.where(F.col("id") == start_id).select(
        "id", "v", "meta"
    ).collect()
    if not root_rows:
        raise KeyError(f"vector {start_id!r} not found")
    r = root_rows[0]
    out = {"id": r["id"], "v": r["v"], "meta": r["meta"], "connections": {}}

    def to_dict(node, remaining: list[str]) -> dict:
        d = {"id": node["id"], "v": node["v"], "meta": node["meta"],
             "connections": {}}
        kids = node["children"] if "children" in node.asDict() else None
        if kids and remaining:
            d["connections"][".".join(remaining)] = [
                to_dict(c, remaining[1:]) for c in kids
            ]
        return d

    for path_str in paths:
        parts = [p for p in path_str.split(".") if p][:10]
        if not parts:
            continue
        rows = traverse_tree(index.edges, live, start_id, parts).collect()
        kids = rows[0]["children"] if rows else None
        if kids:
            out["connections"][path_str] = [
                to_dict(c, parts[1:]) for c in kids
            ]
    return out


# ---------------------------------------------------------------------------
# VSearch facade — the reference's primary read entry point
# (ops.go:524-537 VSearch / 896-1180 searchWithFusion / 0.6.0 hydrate)
# ---------------------------------------------------------------------------

TEXT_FIELD_PRIORITY = (
    "content", "text", "page_content", "body", "description", "summary",
)


def detect_text_field(index: Index) -> str | None:
    """T3 text-field autodetect (ops.go:1660-1694): walk the priority
    list against the index's text-indexed fields; fall back to the
    first configured text field. When the index was created without
    ``text_fields``, the priority list is checked against the observed
    metadata keys instead (one tiny distinct-keys aggregate — the
    analog of the reference's in-RAM text-index map lookup; this is a
    catalog probe, not a per-row query path)."""
    if index.text_fields:
        for c in TEXT_FIELD_PRIORITY:
            if c in index.text_fields:
                return c
        return index.text_fields[0]
    keys = {
        r[0]
        for r in index.vectors.where(~F.col("deleted"))
        .select(F.explode(F.map_keys("meta")).alias("k"))
        .distinct()
        .collect()
    }
    for c in TEXT_FIELD_PRIORITY:
        if c in keys:
            return c
    return None


def _meta_filter_pred(filter_str: str):
    """Filter DSL (F1-F4) over the facade's ``meta map<string,string>``
    column — the reference evaluates the same DSL against its untyped
    metadata maps (core.go:1836-1917). Numeric range operators CAST the
    stored string (the B-Tree path indexes numerics); boolean literals
    compare case-insensitively ("true"/"false", core.go:1479-1494);
    ``!=`` includes rows missing the field."""
    from kektordb_spark import filters as FL

    or_parts = []
    for leaves in FL.parse_filter(filter_str):
        ands = []
        for leaf in leaves:
            acc = f"meta['{leaf.key.replace(chr(39), chr(39) * 2)}']"
            val = leaf.value.replace("'", "''")
            if leaf.op in ("=", "!="):
                if leaf.value.lower() in ("true", "false"):
                    eq = f"lower({acc}) = '{leaf.value.lower()}'"
                else:
                    eq = f"{acc} = '{val}'"
                ands.append(eq if leaf.op == "=" else f"(NOT coalesce({eq}, false))")
            else:
                if not FL._is_number(leaf.value):
                    raise ValueError(
                        f"range operator {leaf.op} needs a numeric value, got {leaf.value!r}"
                    )
                # try_cast: a non-numeric stored value yields NULL and
                # never matches a range (ANSI mode would THROW on plain
                # CAST of a malformed string — a single bad metadata
                # value must not fail the whole search)
                ands.append(f"try_cast({acc} AS DOUBLE) {leaf.op} {float(leaf.value)}")
        or_parts.append("(" + " AND ".join(ands) + ")")
    return F.expr(" OR ".join(or_parts))


def _analyze_query(text: str) -> list[str]:
    """The analyzer applied to query text (analyzer.go:17-44):
    lowercase, word regex, stopword removal — duplicates KEPT (BM25
    scores repeated query tokens per occurrence, core.go:2024-2031)."""
    import re as _re

    from kektordb_spark.tables import ENGLISH_STOPWORDS

    return [
        t for t in _re.findall(r"[a-z0-9_]+", text.lower())
        if t not in ENGLISH_STOPWORDS
    ]


def vsearch(
    index: Index,
    query: list[float] | None = None,
    k: int = 10,
    filter: str = "",
    query_text: str = "",
    alpha: float = 0.5,
    graph_query: dict | None = None,
    with_scores: bool = False,
    hydrate: bool = False,
) -> DataFrame:
    """VSearch (ops.go:524-537) — the reference's primary entry point,
    composed from the repo's operators exactly as searchWithFusion
    (ops.go:896-1180) chains them:

      1. filter parsing: explicit ``query_text`` keeps ``filter`` pure
         boolean; otherwise the legacy CONTAINS clause is split out
         (F5, search_utils.go:18-43) and the text field autodetected
         (T3);
      2. metadata allowlist from the boolean DSL (pre-filter, V2);
      3. graph allowlist (BFS from ``graph_query['root_id']`` over the
         index edges, graph.go:173-246) INTERSECTED with the metadata
         allowlist — both are semi-join reductions of the scan, so the
         intersection is two stacked pushed-down predicates;
      4. text-only when the query vector is empty/None: raw BM25 order
         (CASE A, ops.go:975-995 — scores not normalized);
      5. hybrid otherwise: exact k-NN over the filtered corpus and
         BM25 over the same allowlist, each normalized (H1), weighted
         by ``alpha`` (H2 — out-of-range resets to 0.5), top-k (H5).

    ``hydrate`` (v0.6.0 search field) joins the full node row onto the
    result instead of ids only; ``with_scores`` keeps the fused score
    column (VSearchWithScores response shape). Returns a DataFrame
    ordered by (rank): (rank, id [, score] [, node columns...]).

    All branches stay declarative — one plan, no driver-side loops;
    the only collect is in the caller when it materializes results."""
    from kektordb_spark.functions import text as TX
    from kektordb_spark.operators import fusion as FU
    from kektordb_spark.operators import graph as G
    from kektordb_spark.operators import knn as KNN

    # 1. filter / text-query parsing
    if query_text:
        boolean_filter, text_q = filter, query_text
        text_field = detect_text_field(index)
        if text_field is None:
            text_q = ""  # reference falls back to vector-only with a warning
    else:
        from kektordb_spark import filters as FL

        boolean_filter, text_field, text_q = FL.parse_hybrid_filter(filter)
        text_q = text_q or ""

    live = index.vectors.where(~F.col("deleted"))  # F7 valid-rows
    allowed = live
    if boolean_filter:
        allowed = allowed.where(_meta_filter_pred(boolean_filter))

    # 3. graph allowlist intersection (resolveGraphFilter)
    if graph_query and graph_query.get("root_id"):
        depth = graph_query.get("max_depth", 1)
        roots = index.spark.createDataFrame(
            [(graph_query["root_id"],)], "node string"
        )
        reach = G.bfs(
            index.edges, roots,
            max_depth=max(1, min(depth if depth > 0 else 1, 5)),
            relations=list(graph_query.get("relations") or []) or None,
            direction=graph_query.get("direction", "out"),
        ).select(F.col("node").alias("id"))
        allowed = allowed.join(F.broadcast(reach), "id", "left_semi")

    is_vector_empty = query is None or all(x == 0 for x in query)
    if is_vector_empty and not text_q:
        raise ValueError("vsearch needs a query vector or a text query")

    q_toks = _analyze_query(text_q) if text_q else []

    def _bm25_allowed() -> DataFrame:
        """Text branch: scored over the FULL live corpus (idf/avgdl
        stay corpus-wide), then post-filtered by the allowlist — the
        reference applies the boolean/graph allowlist to textResults
        AFTER FindIDsByTextSearch (ops.go:997-1026), unlike the vector
        branch where the allowlist pre-filters the search."""
        docs = live.select(
            F.col("id").alias("doc_id"),
            TX.tokens(f"meta['{text_field}']").alias("toks"),
        )
        scored = TX.bm25_scores(docs, q_toks)
        if allowed is not live:
            scored = scored.join(
                F.broadcast(allowed.select(F.col("id").alias("doc"))),
                "doc", "left_semi",
            )
        return scored

    if is_vector_empty:
        # CASE A: text only — raw BM25 order, no normalization
        scored = _bm25_allowed()
        out = (
            scored.orderBy(F.col("score").desc(), F.col("doc").asc())
            .limit(k)
            .select(
                F.row_number().over(
                    Window.orderBy(F.col("score").desc(), F.col("doc").asc())
                ).alias("rank"),
                F.col("doc").alias("id"),
                F.col("score"),
            )
        )
    else:
        # CASE B: vector (or hybrid)
        import math as _math

        qnorm = _math.sqrt(sum(x * x for x in query)) or 1.0
        queries = index.spark.createDataFrame(
            [(0, [float(x) for x in query], float(qnorm))],
            "query_id int, qv array<double>, qnorm double",
        )
        knn = KNN.knn_exact(
            allowed.where(F.col("v").isNotNull()), queries,
            k=k, metric=index.metric,
        )
        vec_scored = FU.normalize_vector_scores(knn).select(
            F.col("id"), "vec_score"
        )
        if text_q:
            # alpha weights the vector branch even when the analyzed
            # text query matches nothing (ops.go:1085-1096 — CASE B
            # applies alpha whenever textQuery is non-empty).
            text_scored = FU.normalize_text_scores(_bm25_allowed()).select(
                F.col("doc").alias("id"), "text_score"
            )
            fused = FU.fuse(vec_scored, text_scored, alpha)
        else:
            # pure vector: score is the raw normalized vector score
            # (alpha implicitly 1.0, ops.go:1081-1084).
            fused = vec_scored.withColumn("score", F.col("vec_score"))
        out = FU.top_k(fused, k).select(
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), F.col("id").asc())
            ).alias("rank"),
            "id", "score",
        )

    if not with_scores:
        out = out.select("rank", "id")
    if hydrate:
        out = out.join(live, "id", "left").orderBy("rank")
    return out


def graph_vacuum(index: Index, now: int, retention: int) -> Index:
    """G12 (core/graph.go:367-416): purge edges soft-deleted longer
    than ``retention`` seconds ago — one pushed-down filter (Delta:
    DELETE WHERE + VACUUM)."""
    edges = index.edges.where(
        (F.col("deleted_at") == 0) | (F.col("deleted_at") >= now - retention)
    )
    return replace(index, edges=edges)


def repair_dangling(index: Index, now: int) -> Index:
    """G10 self-repair (ops.go:1213-1267: VGetConnections removes
    dangling links in the background): soft-close active edges whose
    src OR dst no longer resolves to a live vector row. Two left-anti
    probes against the (broadcastable) live-id set — one pass over
    edges, the Spark form of the reference's per-hop cleanup."""
    live = index.vectors.where(~F.col("deleted")).select("id")
    dangle_src = index.edges.join(
        live.withColumnRenamed("id", "src"), "src", "left_anti"
    ).select("src", "dst", "rel")
    dangle_dst = index.edges.join(
        live.withColumnRenamed("id", "dst"), "dst", "left_anti"
    ).select("src", "dst", "rel")
    dangling = dangle_src.unionByName(dangle_dst).distinct()
    marked = dangling.withColumn("_dangling", F.lit(True))
    edges = (
        index.edges.join(F.broadcast(marked), ["src", "dst", "rel"], "left")
        .select(
            "src", "dst", "rel", "weight", "created_at",
            F.when(
                (F.col("deleted_at") == 0) & F.col("_dangling").isNotNull(),
                F.lit(now).cast("long"),
            ).otherwise(F.col("deleted_at")).alias("deleted_at"),
        )
    )
    return replace(index, edges=edges)


def vevolve(
    index: Index, old_id: str, new_id: str, new_props: dict, now: int,
    reason: str = "",
) -> Index:
    """G13 VEvolve "semantic git" (ops.go:842-893): new node with merged
    metadata; incoming edges copied to the new node; superseded_by /
    evolves_from links; old node marked historical."""
    old = index.vectors.where(F.col("id") == old_id)
    new_row = (
        old.withColumn("id", F.lit(new_id))
        .withColumn("meta", _merge_meta(F.col("meta"), new_props))
        .withColumn("created_at", F.lit(now).cast("long"))
        .withColumn("historical", F.lit(False))
    )
    vectors = upsert(
        index.vectors.withColumn(
            "historical",
            F.when(F.col("id") == old_id, F.lit(True)).otherwise(F.col("historical")),
        ),
        new_row,
    )
    # copy incoming edges onto the new node + add the evolution links
    copied = (
        index.edges.where((F.col("dst") == old_id) & (F.col("deleted_at") == 0))
        .withColumn("dst", F.lit(new_id))
    )
    links = index.spark.createDataFrame(
        [
            (old_id, new_id, "superseded_by", 1.0, now, 0),
            (new_id, old_id, "evolves_from", 1.0, now, 0),
        ],
        EDGE_SCHEMA,
    )
    edges = index.edges.unionByName(copied).unionByName(links)
    return replace(index, vectors=vectors, edges=edges)


def consolidate(index: Index, clusters: list[list[str]], now: int) -> Index:
    """A5 merge step write-side (gardener.go:941-1110
    consolidateCluster, no-LLM path), batched over every cluster at
    once — each stage is one join/group-by over the vectors or edges
    table, the read-side of exactly one MERGE:

      * master row per cluster: id ``consolidation_<lowest member id>``
        (deterministic substitute for the reference's wall-clock nanos
        id), vector = elementwise mean of members, content = the most
        graph-connected member's content (ties: longer content, then
        first in member order — pickCentralContent,
        gardener.go:1288-1308), meta type=consolidated_memory +
        derived_from_count;
      * external active edges of members transferred to the master
        (SKIP_RELS analysis artifacts and within-cluster endpoints
        excluded; same (rel, endpoint) from several members resolves
        last-member-wins, the deterministic face of the reference's
        VLink-versioning over sorted member iteration);
      * ``consolidated_into``/``derived_from`` link pair per member
        (gardener.go:1093-1097);
      * members archived in place: meta gains _archived=true and
        _consolidated_into=<master> (gardener.go:1099-1103).
    """
    from kektordb_spark.operators.consolidation import SKIP_RELS

    spark = index.spark
    pairs = [
        (f"consolidation_{sorted(m)[0]}", mid) for m in clusters for mid in m
    ]
    cl = spark.createDataFrame(pairs, "master string, member string")
    live = index.vectors.where(~F.col("deleted"))
    items = live.join(
        F.broadcast(cl), live["id"] == cl["member"]
    ).select("master", *index.vectors.columns)

    ecur = index.edges.where(F.col("deleted_at") == 0)
    touch = ecur.select(F.col("src").alias("nid")).unionAll(
        ecur.select(F.col("dst").alias("nid"))
    )
    deg = touch.groupBy("nid").agg(F.count(F.lit(1)).alias("degree"))
    content_len = F.length(F.coalesce(F.col("meta")["content"], F.lit("")))
    w_central = Window.partitionBy("master").orderBy(
        F.col("degree").desc(), content_len.desc(), F.col("id").asc()
    )
    central = (
        items.join(deg, items["id"] == deg["nid"], "left")
        .withColumn("degree", F.coalesce("degree", F.lit(0)))
        .withColumn("rn", F.row_number().over(w_central))
        .where(F.col("rn") == 1)
        .select(
            "master",
            F.coalesce(F.col("meta")["content"], F.lit("")).alias("content"),
        )
    )
    mvec = (
        items.select("master", F.posexplode("v").alias("pos", "x"))
        .groupBy("master", "pos").agg(F.avg("x").alias("m"))
        .groupBy("master")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("master", F.expr("transform(pm, s -> s.m)").alias("v"))
    )
    counts = items.groupBy("master").agg(F.count(F.lit(1)).alias("n"))
    masters = (
        mvec.join(central, "master").join(counts, "master")
        .select(
            F.col("master").alias("id"), "v", F.expr(_NORM).alias("norm"),
            F.lit(now).cast("long").alias("created_at"),
            F.lit(None).cast("long").alias("last_accessed"),
            F.lit(0).alias("access_count"),
            F.lit(False).alias("pinned"),
            F.lit(False).alias("historical"),
            F.lit("episodic").alias("memory_layer"),
            F.lit(None).cast("string").alias("decay_model"),
            F.lit(False).alias("deleted"),
            F.map_from_arrays(
                F.array(F.lit("content"), F.lit("type"),
                        F.lit("derived_from_count")),
                F.array(F.col("content"), F.lit("consolidated_memory"),
                        F.col("n").cast("string")),
            ).alias("meta"),
        )
    )

    def transfer(direction: str) -> DataFrame:
        """Member edges rewired to the master; ``direction`` names the
        member-side endpoint column."""
        other = "dst" if direction == "src" else "src"
        e = (
            ecur.join(F.broadcast(cl), ecur[direction] == cl["member"])
            .where(~F.col("rel").isin(*SKIP_RELS))
        )
        same_cluster = cl.select(
            F.col("master").alias("m2"), F.col("member").alias("end2")
        )
        e = e.join(
            F.broadcast(same_cluster),
            (F.col("m2") == F.col("master")) & (F.col("end2") == F.col(other)),
            "left_anti",
        )
        w = Window.partitionBy("master", "rel", other).orderBy(
            F.col("member").desc()
        )
        picked = e.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        src = F.col("master") if direction == "src" else F.col("src")
        dst = F.col("dst") if direction == "src" else F.col("master")
        return picked.select(
            src.alias("src"), dst.alias("dst"), "rel", "weight",
            F.lit(now).cast("long").alias("created_at"),
            F.lit(0).cast("long").alias("deleted_at"),
        )

    lit_now = F.lit(now).cast("long")
    lit_zero = F.lit(0).cast("long")
    cons_links = cl.select(
        F.col("member").alias("src"), F.col("master").alias("dst"),
        F.lit("consolidated_into").alias("rel"), F.lit(1.0).alias("weight"),
        lit_now.alias("created_at"), lit_zero.alias("deleted_at"),
    )
    deriv_links = cl.select(
        F.col("master").alias("src"), F.col("member").alias("dst"),
        F.lit("derived_from").alias("rel"), F.lit(1.0).alias("weight"),
        lit_now.alias("created_at"), lit_zero.alias("deleted_at"),
    )
    edges = (
        index.edges.unionByName(transfer("src")).unionByName(transfer("dst"))
        .unionByName(cons_links).unionByName(deriv_links)
    )

    archived_meta = F.map_concat(
        F.map_filter(
            F.col("meta"),
            lambda k, _: ~k.isin("_archived", "_consolidated_into"),
        ),
        F.map_from_arrays(
            F.array(F.lit("_archived"), F.lit("_consolidated_into")),
            F.array(F.lit("true"), F.col("master")),
        ),
    )
    vectors = (
        index.vectors.join(F.broadcast(cl),
                           index.vectors["id"] == cl["member"], "left")
        .withColumn(
            "meta",
            F.when(F.col("member").isNotNull() & ~F.col("deleted"),
                   archived_meta).otherwise(F.col("meta")),
        )
        .select(*index.vectors.columns)
    )
    vectors = upsert(vectors, masters)
    return replace(index, vectors=vectors, edges=edges)


def vcompress_int8(index: Index, sample_limit: int = 25000) -> DataFrame:
    """S12 VCompress to int8 (core.go:1095-1228; quantizer.go:49-120):
    absmax learned via approximate quantile over a bounded sample
    (percentile_approx ≈ the reference's stride-sampled quantile),
    then symmetric scalar quantization. Returns (id, q array<tinyint>,
    scale) — a column rewrite, single scan + tiny agg."""
    flat = index.vectors.where(~F.col("deleted")).select(
        F.explode("v").alias("x")
    ).limit(sample_limit * 64)
    absmax = flat.agg(
        F.percentile_approx(F.abs(F.col("x")), 0.999).alias("am")
    ).collect()[0]["am"]
    absmax = float(absmax) if absmax else 1.0
    q = F.expr(
        f"transform(v, x -> CAST(greatest(-127.0, least(127.0, "
        f"round(x * 127.0 / {absmax}, 0))) AS TINYINT))"
    )
    return index.vectors.where(~F.col("deleted")).select(
        "id", q.alias("q"), F.lit(absmax / 127.0).alias("scale")
    )


def vcompress_f16(index: Index) -> DataFrame:
    """S12 VCompress to float16 (hnsw_index.go:187-213 — f16 is
    Euclidean-only in the reference). IEEE binary16 round-trip via an
    Arrow-batched pandas UDF (no SQL equivalent of round-to-nearest-
    even at 11-bit significand); a pure column rewrite, single scan."""
    from kektordb_spark.functions.vector import quantize_f16

    return index.vectors.where(~F.col("deleted")).select(
        "id", quantize_f16(F.col("v")).alias("v16")
    )


# ---------------------------------------------------------------------------
# KV store (S8)
# ---------------------------------------------------------------------------

def kv_set(spark: SparkSession, kv: DataFrame, key: str, value: bytes) -> DataFrame:
    new = spark.createDataFrame([(key, bytearray(value))], KV_SCHEMA)
    return kv.where(F.col("key") != key).unionByName(new)


def kv_get(kv: DataFrame, key: str) -> bytes | None:
    rows = kv.where(F.col("key") == key).collect()
    return bytes(rows[0]["value"]) if rows else None


def kv_delete(kv: DataFrame, key: str) -> DataFrame:
    return kv.where(F.col("key") != key)


def export_parquet(index: Index, path: str) -> None:
    """S9 Export: stream the index out (df.write — the natural sink)."""
    index.vectors.where(~F.col("deleted")).write.mode("overwrite").parquet(path)


def export_jsonl(index: Index, path: str) -> None:
    """S9 Export, JSON-lines form — the reference's export/snapshot
    interchange is JSON (VExport / snapshot tooling), so the facade
    offers the same portability sink next to the parquet-native one.
    One row per line; the meta map serializes as a JSON object, the
    vector as a number array. Active rows only (same contract as
    export_parquet)."""
    index.vectors.where(~F.col("deleted")).write.mode("overwrite").json(path)


def import_jsonl(
    spark: SparkSession,
    name: str,
    path: str,
    now: int,
    metric: str = "cosine",
    precision: str = "float32",
    auto_links: tuple = (),
) -> Index:
    """S4 VImport from a JSONL dump: schema-ENFORCED read (the declared
    VECTOR_SCHEMA, never inference — a malformed line fails loudly
    instead of silently widening types), missing system columns filled
    with the same defaults vadd_batch injects, norm recomputed when
    absent. The loaded relation becomes the index snapshot directly —
    a bulk import is one MERGE, not per-row adds (the reference's
    VImport also bypasses per-add checks for bulk restore)."""
    raw = spark.read.schema(VECTOR_SCHEMA).option("mode", "FAILFAST").json(path)
    defaults = {
        "norm": F.coalesce(F.col("norm"), F.expr(_NORM)),
        "created_at": F.coalesce(F.col("created_at"), F.lit(now)),
        "last_accessed": F.coalesce(F.col("last_accessed"), F.lit(now)),
        "access_count": F.coalesce(F.col("access_count"), F.lit(0)),
        "pinned": F.coalesce(F.col("pinned"), F.lit(False)),
        "historical": F.coalesce(F.col("historical"), F.lit(False)),
        "memory_layer": F.coalesce(F.col("memory_layer"), F.lit("episodic")),
        "decay_model": F.coalesce(F.col("decay_model"), F.lit("default")),
        "deleted": F.coalesce(F.col("deleted"), F.lit(False)),
    }
    vectors = raw.where(F.col("id").isNotNull()).select(
        *[
            defaults[f.name].alias(f.name) if f.name in defaults
            else F.col(f.name)
            for f in VECTOR_SCHEMA.fields
        ]
    )
    idx = vcreate(spark, name, metric=metric, precision=precision,
                  auto_links=auto_links)
    return replace(idx, vectors=vectors)
