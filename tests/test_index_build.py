"""The persisted index layer of tables.load_tables: the declared
dependency graph (tables.INDEX_LAYER) and its concurrent build."""

from __future__ import annotations

import threading

import pytest

from kektordb_spark import tables as T
from tests.conftest import SF_SMALL

#: the relations load_tables persists and registers as temp views
INDEX_VIEWS = {
    "edges", "docs_tok_par", "gemm_blocks_8", "ivf_cents", "ivf_assign",
    "pq_cb_full", "pq_codes_full", "pq_cb_cand", "pq_codes_cand",
    "lsh_sig", "pr_w", "sim_pairs_030", "edges_cur", "mh_arr", "mh_ex",
    "mh_sig", "ng_arr", "ng_ex", "ng_pref", "copurch_w", "copurch_e",
    "copurch_o", "label_cents", "comp_labels", "nng",
}

_CP = "spark.sql.constraintPropagation.enabled"


def test_index_layer_registers_the_persisted_views():
    from kektordb_spark.operators.blockgemm import GEMM_BLOCKS_VIEW
    from kektordb_spark.operators.knn_planner import SIM_PAIRS_VIEW

    assert set(T.INDEX_LAYER) == INDEX_VIEWS
    assert {GEMM_BLOCKS_VIEW, SIM_PAIRS_VIEW} <= INDEX_VIEWS


def test_index_layer_graph_is_acyclic():
    deps = {name: set(d) for name, (d, _) in T.INDEX_LAYER.items()}
    for name, d in deps.items():
        assert d <= set(deps), f"{name} depends on undeclared {d - set(deps)}"
    # Kahn: repeatedly remove nodes whose dependencies are all removed
    done: set[str] = set()
    while len(done) < len(deps):
        ready = {n for n, d in deps.items() if n not in done and d <= done}
        assert ready, f"dependency cycle among {set(deps) - done}"
        done |= ready


def test_critical_path_is_submitted_first():
    order = list(T.INDEX_LAYER)
    assert order[:4] == ["nng", "gemm_blocks_8", "sim_pairs_030", "comp_labels"]


def test_builder_failure_propagates_and_leaves_no_registration(spark, monkeypatch):
    """The first builder exception leaves load_tables once the running
    builders have drained; nothing depending on the failed builder
    runs, and the registration memo stays unset so the next call
    rebuilds."""
    def boom(s):
        raise RuntimeError("builder failed")

    monkeypatch.setattr(T, "INDEX_LAYER", {
        "_ib_ok": ((), lambda s: s.range(3)),
        "_ib_boom": ((), boom),
        "_ib_after": (("_ib_boom",), lambda s: s.range(1)),
    })
    # a registration of another fixture, whose views the failed call
    # replaces
    T._REGISTERED[id(spark)] = ("/previous/fixture", {})
    try:
        with pytest.raises(RuntimeError, match="builder failed"):
            T.load_tables(spark, SF_SMALL)
        assert id(spark) not in T._REGISTERED
        assert spark.table("_ib_ok").count() == 3  # drained, not abandoned
        assert not spark.catalog.tableExists("_ib_after")
    finally:
        for v in ("_ib_ok", "_ib_after"):
            spark.catalog.dropTempView(v)


@pytest.fixture(scope="module")
def fresh_build(spark):
    """One full build of the SF_SMALL index layer under job group "g",
    with the group's job ids sampled while it runs (the status store
    keeps only the newest jobs) and the job ids just before and after."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(group: str) -> list[int]:
        sc.setJobGroup(group, group)
        spark.range(1).count()
        return tracker.getJobIdsForGroup(group)

    seen: set[int] = set()
    stop = threading.Event()

    def sample():
        while not stop.wait(0.05):
            seen.update(tracker.getJobIdsForGroup("g"))

    T._REGISTERED.pop(id(spark), None)
    cp_before = spark.conf.get(_CP)
    pre = max(jobs_of("pre"))
    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    sc.setJobGroup("g", "index build")
    try:
        T.load_tables(spark, SF_SMALL)
    finally:
        stop.set()
        sampler.join()
        seen.update(tracker.getJobIdsForGroup("g"))
        post = min(jobs_of("post"))
        sc.setLocalProperty("spark.jobGroup.id", None)
    return {"pre": pre, "post": post, "group": seen,
            "cp_before": cp_before, "cp_after": spark.conf.get(_CP)}


def test_build_runs_every_job_in_the_callers_job_group(spark, fresh_build):
    between = set(range(fresh_build["pre"] + 1, fresh_build["post"]))
    assert len(between) > len(T.INDEX_LAYER)
    assert between - fresh_build["group"] == set()


def test_build_restores_constraint_propagation(fresh_build):
    assert fresh_build["cp_after"] == fresh_build["cp_before"]


def test_build_registers_every_view_over_its_parquet(spark, fresh_build):
    assert T._REGISTERED[id(spark)][0] == SF_SMALL
    mat_dir = T._SCRATCH_DIRS[id(spark)]
    for name in INDEX_VIEWS:
        files = spark.table(name).inputFiles()
        assert files, name
        assert all(f"{mat_dir}/{name}/" in f for f in files), name
