"""The one size gate shared by the six driver/distributed operators
(``functions.parallel.pull_if_small``): what it leaves persisted, where
its boundary sits, and how often it evaluates the upstream plan."""

import importlib

import pyarrow as pa
import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame

from vectorsearchutil_spark.functions import parallel
from vectorsearchutil_spark.functions.parallel import pull_if_small
from vectorsearchutil_spark.sources.readers import load_table

#: square 1-2-3-4 with chord 1-3 (two triangles), tail 4-5, and a
#: separate pair 10-11 — canonical id_a < id_b rows
_PAIRS = [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3), (4, 5), (10, 11)]


def _cache_state(spark):
    """(CacheManager entries, persistent RDDs) of the session."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    return field.get(cm).size(), rdds


def _pairs(spark, sf_dir):
    return spark.createDataFrame(_PAIRS, "id_a long, id_b long")


def _edges(spark, sf_dir):
    """``_PAIRS`` in both directions: PageRank wants a symmetric graph."""
    return spark.createDataFrame(
        _PAIRS + [(b, a) for a, b in _PAIRS], "id_a long, id_b long"
    )


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _pagerank(df):
    from vectorsearchutil_spark.operators.graph import pagerank

    return pagerank(df, src="id_a", dst="id_b")


def _triangles(df):
    from vectorsearchutil_spark.operators.graph import triangle_count

    return triangle_count(df)


def _components(df):
    from vectorsearchutil_spark.operators.dedup import connected_components

    return connected_components(df)


def _kmeans(df):
    from vectorsearchutil_spark.operators.clustering import kmeans

    return kmeans(df, k=4, iterations=2)[0]


def _neardup(df):
    from vectorsearchutil_spark.operators.similarity import neardup_pairs

    return neardup_pairs(df, threshold=0.4)


def _lsh(df):
    from vectorsearchutil_spark.operators.similarity import cosine_lsh_pairs

    return cosine_lsh_pairs(df)


#: operator → (its module, its gate constant, rows-per-gate-unit, run,
#: input factory, id column). Gates in cells (k-means, LSH verify) or
#: symmetric edges (connected components) convert to a row bound by an
#: integer division, so ``unit`` × rows is the constant that puts the
#: boundary at exactly ``rows``.
_GATES = {
    "pagerank": ("graph", "_PAGERANK_DRIVER_MAX_EDGES", 1, _pagerank,
                 _edges, "id_a"),
    "triangle_count": ("graph", "_TRIANGLE_DRIVER_MAX_EDGES", 1,
                       _triangles, _pairs, "id_a"),
    "connected_components": ("dedup", "_CC_DRIVER_MAX_EDGES", 2,
                             _components, _pairs, "id_a"),
    "kmeans": ("clustering", "_KMEANS_DRIVER_MAX_CELLS", 64, _kmeans,
               _emb, "vec_id"),
    "neardup_pairs": ("similarity", "_NEARDUP_MATRIX_MAX_ROWS", 1,
                      _neardup, _emb, "vec_id"),
    "cosine_lsh_pairs": ("similarity", "_LSH_VERIFY_MAX_CELLS", 64, _lsh,
                         _emb, "vec_id"),
}


def _module(name):
    return importlib.import_module(f"vectorsearchutil_spark.operators.{name}")


def _spy(monkeypatch):
    """Record which path every ``pull_if_small`` call chose."""
    seen = []

    def spy(df, max_rows):
        out = pull_if_small(df, max_rows)
        seen.append("distributed" if isinstance(out, DataFrame) else "driver")
        return out

    monkeypatch.setattr(parallel, "pull_if_small", spy)
    return seen


def test_pull_below_gate_returns_table_and_releases(spark):
    df = spark.range(0, 50, numPartitions=4).withColumn("x", F.col("id") * 2)
    before = _cache_state(spark)
    tbl = pull_if_small(df, 50)
    assert isinstance(tbl, pa.Table)
    assert sorted(tbl.column("id").to_pylist()) == list(range(50))
    assert _cache_state(spark) == before


def test_pull_above_gate_returns_materialized_frame(spark):
    df = spark.range(0, 50, numPartitions=4).withColumn("x", F.col("id") * 2)
    out = pull_if_small(df, 49)
    try:
        assert isinstance(out, DataFrame) and out.is_cached
        assert sorted(r["id"] for r in out.collect()) == list(range(50))
    finally:
        out.unpersist()


def test_pull_keeps_a_cache_it_did_not_create(spark):
    df = spark.range(0, 10).withColumn("x", F.col("id") + 1).cache()
    try:
        assert isinstance(pull_if_small(df, 10), pa.Table)
        assert df.storageLevel.useMemory
    finally:
        df.unpersist()


@pytest.mark.parametrize("op", sorted(_GATES))
def test_below_gate_leaves_nothing_persisted(spark, sf_dir, op):
    """A small input under 'auto' must not leave a cache entry or a
    persistent (checkpoint) RDD behind once its result is consumed."""
    _, _, _, run, make, _ = _GATES[op]
    df = make(spark, sf_dir)
    spark.catalog.clearCache()
    before = _cache_state(spark)
    run(df).collect()
    assert _cache_state(spark) == before


@pytest.mark.parametrize("op", sorted(_GATES))
def test_gate_boundary_is_inclusive(spark, sf_dir, monkeypatch, op):
    """Exactly ``max_rows`` rows take the driver path, one more row
    takes the distributed path, and both give the same output."""
    mod_name, const, unit, run, make, _ = _GATES[op]
    mod = _module(mod_name)
    df = make(spark, sf_dir)
    rows = df.count()  # the inputs hold no NULL or non-finite vector
    seen = _spy(monkeypatch)
    monkeypatch.setattr(mod, const, rows * unit)
    at_gate = sorted(tuple(r) for r in run(df).collect())
    monkeypatch.setattr(mod, const, rows * unit - 1)
    over_gate = sorted(tuple(r) for r in run(df).collect())
    spark.catalog.clearCache()
    assert seen == ["driver", "distributed"]
    assert at_gate == over_gate and len(at_gate) > 0


@pytest.mark.parametrize("op", sorted(_GATES))
def test_above_gate_evaluates_upstream_once(spark, sf_dir, monkeypatch, op):
    """Above the gate the distributed path reads the pulled frame's
    cache: an accumulator ticked by a UDF in the upstream plan counts
    each input row once over the whole operator."""
    mod_name, const, _, run, make, id_col = _GATES[op]
    mod = _module(mod_name)
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(x):
        acc.add(1)
        return x

    base = make(spark, sf_dir)
    df = base.withColumn(id_col, tick(id_col))
    seen = _spy(monkeypatch)
    monkeypatch.setattr(mod, const, 0)
    run(df).collect()
    spark.catalog.clearCache()
    assert seen == ["distributed"]
    assert acc.value == base.count()
