"""Every Spark relation the package caches has an owner.

The two lifetimes are a `finally` that unpersists in the caching
function, or `operators/cacheutil.scoped_cache` for a relation the
returned lazy plan still reads. The static test needs no Spark; the
others run queries and read the session's CacheManager.
"""

from __future__ import annotations

import ast
import pathlib
import shutil

import pytest

from .conftest import SF_TEST

PKG = pathlib.Path(__file__).resolve().parent.parent / "bitcoin_olap_spark"

#: the queries that build on `_strong_edges`, `pagerank_int` or
#: `connected_components`, or cache a relation of their own
TOUCHED = [
    "dedup_doc_clusters",
    "graph_adamic_adar",
    "graph_assortativity",
    "graph_clustering_coeff",
    "graph_connected_components",
    "graph_jaccard_nbrs",
    "graph_modularity",
    "graph_pagerank",
    "graph_triangles",
    "ml_dbscan_grid",
    "ml_kmeans_lloyd",
    "ml_logreg",
    "pipeline_mm_e2e",
    "pipeline_rag_e2e",
    "sample_cluster_split",
    "sim_canonical_keep",
    "sim_maxsim",
    "text_cdc_dedup",
    "text_dedup_chunks",
]


def _unowned_cache_calls(path: pathlib.Path) -> list[str]:
    """`.cache()`/`.persist(` calls in `path` whose enclosing function
    has no `finally` that calls `.unpersist(`."""
    tree = ast.parse(path.read_text(), filename=str(path))
    parents = {
        child: node for node in ast.walk(tree)
        for child in ast.iter_child_nodes(node)
    }

    def releases(fn: ast.AST) -> bool:
        return any(
            isinstance(c, ast.Call)
            and isinstance(c.func, ast.Attribute)
            and c.func.attr == "unpersist"
            for t in ast.walk(fn) if isinstance(t, ast.Try)
            for stmt in t.finalbody for c in ast.walk(stmt)
        )

    bad = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("cache", "persist")
        ):
            continue
        fn = parents.get(node)
        while fn is not None and not isinstance(
            fn, (ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            fn = parents.get(fn)
        if fn is None or not releases(fn):
            where = fn.name if fn is not None else "<module>"
            bad.append(f"{path.relative_to(PKG.parent)}:{node.lineno} in {where}")
    return bad


def test_every_cache_call_has_an_owner():
    files = sorted(PKG.rglob("*.py"))
    assert files
    bad = [
        site
        for f in files
        if f != PKG / "operators" / "cacheutil.py"
        for site in _unowned_cache_calls(f)
    ]
    assert not bad, (
        "cache()/persist() with no unpersist in a `finally` of the same "
        "function; use operators.cacheutil.scoped_cache for a relation "
        "the returned plan still reads:\n" + "\n".join(bad)
    )


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _release_live() -> None:
    from bitcoin_olap_spark.operators.cacheutil import _LIVE

    while _LIVE:
        _, df = _LIVE.popitem()
        df.unpersist()


@pytest.mark.parametrize("qid", TOUCHED)
def test_query_caches_are_owned(qid, spark):
    """After the query runs, releasing `scoped_cache`'s registry
    leaves the CacheManager empty: nothing else holds a cache."""
    from bitcoin_olap_spark.registry import all_queries

    spark.catalog.clearCache()
    all_queries()[qid](spark, SF_TEST).write.format("noop").mode(
        "overwrite"
    ).save()
    _release_live()
    assert _cache_manager(spark).isEmpty()


def test_long_lived_session_caches_stay_bounded(spark, tmp_path):
    """One session over three copies of the same input, standing in for
    a process whose files change: the live registry never passes
    MAX_LIVE, and once it is released no cached relation remains."""
    from bitcoin_olap_spark.operators.cacheutil import _LIVE, MAX_LIVE
    from bitcoin_olap_spark.registry import all_queries

    qs = all_queries()
    spark.catalog.clearCache()
    _release_live()
    for i in range(3):
        sf_dir = str(tmp_path / f"copy{i}")
        shutil.copytree(SF_TEST, sf_dir)
        for qid in (
            "graph_triangles",
            "graph_pagerank",
            "text_cdc_dedup",
            "sim_canonical_keep",
            "dedup_doc_clusters",
        ):
            qs[qid](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            assert len(_LIVE) <= MAX_LIVE, (i, qid, len(_LIVE))
    _release_live()
    assert _cache_manager(spark).isEmpty()


def test_failed_eviction_logs_and_registers(monkeypatch, caplog):
    """An evicted entry whose unpersist raises logs one warning, and the
    new relation is still registered."""
    import logging

    from bitcoin_olap_spark.operators import cacheutil

    class Fake:
        def __init__(self, key, fail=False):
            self.key, self.fail = key, fail

        def cache(self):
            return self

        def semanticHash(self):
            return self.key

        def unpersist(self, blocking=False):
            if self.fail:
                raise RuntimeError("executor gone")

    live = cacheutil.OrderedDict(
        (k, Fake(k, fail=(k == 0))) for k in range(cacheutil.MAX_LIVE)
    )
    monkeypatch.setattr(cacheutil, "_LIVE", live)
    new = Fake(-1)
    with caplog.at_level(logging.WARNING, logger=cacheutil.__name__):
        assert cacheutil.scoped_cache(new) is new
    warned = [r for r in caplog.records if r.name == cacheutil.__name__]
    assert len(warned) == 1 and "executor gone" in warned[0].getMessage()
    assert live[-1] is new and 0 not in live
    assert len(live) == cacheutil.MAX_LIVE
