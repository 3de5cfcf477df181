"""The block-pair stream under both distributed exact all-pairs
operators (``functions.parallel.block_pairs``): which rows reach the
kernel, how often, and in what form — with Arrow batches of two rows,
so every block pair spans several batches of the sorted stream."""

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from vectorsearchutil_spark.functions.parallel import block_pairs
from vectorsearchutil_spark.operators.similarity import (
    neardup_pairs_blocked,
    neardup_pairs_matrix,
)
from vectorsearchutil_spark.sources.readers import load_table

_SEEN = StructType(
    [
        StructField("ba", IntegerType()),
        StructField("bb", IntegerType()),
        StructField("side", IntegerType()),
        StructField("id", LongType()),
        StructField("x0", DoubleType()),
        StructField("n", LongType()),
    ]
)


@pytest.fixture(autouse=True)
def two_row_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, old)


def _recorder():
    """Kernel echoing every row it is handed (side 1 only off the
    diagonal) with the row count of its call, after checking the
    documented side contract. Built in
    a function so it pickles by value: executors cannot import a test
    module."""

    def record(ba, bb, a_ids, a_mat, b_ids, b_mat):
        for ids, mat in ((a_ids, a_mat), (b_ids, b_mat)):
            assert ids.dtype == np.int64 and mat.dtype == np.float64
            assert len(ids) and mat.shape == (len(ids), 2)
            assert (np.diff(ids) > 0).all()
        if ba == bb:
            assert b_ids is a_ids
            b_ids, b_mat = b_ids[:0], b_mat[:0]
        n_a, n_b = len(a_ids), len(b_ids)
        yield {
            "ba": np.full(n_a + n_b, ba),
            "bb": np.full(n_a + n_b, bb),
            "side": np.r_[np.zeros(n_a, int), np.ones(n_b, int)],
            "id": np.r_[a_ids, b_ids],
            "x0": np.r_[a_mat[:, 0], b_mat[:, 0]],
            "n": np.full(n_a + n_b, n_a + n_b),
        }

    return record


def _frame(spark, ids, null_vector_ids=()):
    rows = [
        (i, None if i in null_vector_ids else [float(i or 0), 1.0])
        for i in ids
    ]
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("vec", ArrayType(DoubleType())),
        ]
    )
    return spark.createDataFrame(rows, schema).repartition(3)


def _expected(df, n_blocks):
    """(ba, bb, side, id, n) rows each block pair must see in one call
    of n rows: side 0 holds block ba, side 1 block bb (off the
    diagonal), and a pair with an empty side is never run."""
    blocks: dict[int, list[int]] = {}
    for r in df.filter(F.col("vec").isNotNull()).select(
        "id", F.pmod(F.xxhash64("id"), F.lit(n_blocks)).alias("b")
    ).collect():
        blocks.setdefault(r["b"], []).append(r["id"])
    out = []
    for ba in blocks:
        for bb in blocks:
            n = len(blocks[ba]) + len(blocks[bb])
            if ba < bb:
                out += [(ba, bb, 0, i, n) for i in blocks[ba]]
                out += [(ba, bb, 1, i, n) for i in blocks[bb]]
            elif ba == bb:
                out += [(ba, bb, 0, i, n // 2) for i in blocks[ba]]
    return sorted(out)


def _seen(df, n_blocks):
    got = block_pairs(df, "id", "vec", n_blocks, _recorder(), _SEEN).collect()
    assert all(r["x0"] == r["id"] for r in got)
    return sorted(
        (r["ba"], r["bb"], r["side"], r["id"], r["n"]) for r in got
    )


@pytest.mark.parametrize("n_blocks", [1, 4, 64])
def test_each_pair_reaches_kernel_once_with_its_rows(spark, n_blocks):
    """n_blocks=1 is one diagonal pair; 64 blocks over 30 rows leaves
    most pairs with an empty side, which must yield nothing and raise
    nothing."""
    df = _frame(spark, range(30))
    assert _seen(df, n_blocks) == _expected(df, n_blocks)


def test_null_vectors_never_reach_kernel(spark):
    df = _frame(spark, range(20), null_vector_ids={3, 7, 11})
    seen = _seen(df, 4)
    assert seen == _expected(df, 4)
    assert not {3, 7, 11} & {row[3] for row in seen}


def test_null_id_raises(spark):
    df = _frame(spark, [1, 2, None, 4])
    with pytest.raises(Exception, match="NULL in pulled id column"):
        block_pairs(df, "id", "vec", 2, _recorder(), _SEEN).collect()


@pytest.mark.parametrize("n_blocks", [1, 3, 8, 32])
def test_neardup_blocked_equals_matrix_in_tiny_batches(
    spark, sf_dir, n_blocks
):
    emb = load_table(spark, sf_dir, "embeddings")
    want = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in neardup_pairs_matrix(emb, threshold=0.4).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in neardup_pairs_blocked(
            emb, threshold=0.4, n_blocks=n_blocks
        ).collect()
    }
    assert got == want and want
