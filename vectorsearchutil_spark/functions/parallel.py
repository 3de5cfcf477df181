"""Scale-adaptive parallelism floor for fan-out stages, the size gate
shared by every driver/distributed operator (with the helpers that
turn its pulled Arrow table into numpy), and the block-pair stream
under every distributed exact all-pairs operator.

Spark sizes scan partitions by INPUT BYTES (``maxPartitionBytes``) and
AQE coalesces shuffle partitions by MAP-OUTPUT BYTES — both lie for a
stage whose row count EXPLODES downstream of the partitioning decision
(pair joins, shingle/token explodes, per-query candidate fan-outs): a
few-MB input collapses to one task and the quadratic/linear expansion
serializes on one core while the rest of the cluster idles. The
optimization playbook's partitioning rule (guide §2): partition by the
post-explosion size, not the pre-explosion bytes, and derive the
number from the session, never a hard-coded constant.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel


def fanout_repartition(df: DataFrame, gated: bool = True) -> DataFrame:
    """Raise a narrow input's partition count to the session's default
    parallelism ahead of a fan-out stage.

    ``gated=True`` (scan-rooted inputs): no-op when the plan already
    carries >= defaultParallelism partitions — any real at-scale scan
    — so the extra exchange exists ONLY in the small-input regime
    where it is ~free (the shuffle moves the small pre-explosion rows
    once). ``gated=False`` (bounded aggregate outputs, e.g. calendar
    grids): repartition unconditionally — the static partition count
    of a not-yet-executed aggregate is the shuffle-partition constant,
    not what AQE will actually run (it coalesces a KB-sized grid to
    ONE partition at runtime), so the probe cannot see the serialization
    it needs to prevent; the exchange cost is bounded by the grid.

    Output-invariance: round-robin repartition is deterministic under
    retries (Spark sorts before distributing, SPARK-23207); every
    consumer of these frames in this repo is partitioning-invariant
    (per-row projections, unique-key tie-broken ranks, integer or
    fixpoint aggregates, array_sort-ed collect_lists).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if gated:
        # INVARIANT (every gated call site): the input is SCAN-ROOTED
        # (no exchange between the source scan and this probe), so the
        # static partition count the probe sees IS the runtime count —
        # AQE only re-plans downstream of exchanges. On an input with
        # an upstream exchange the static count could exceed
        # defaultParallelism while AQE coalesces to 1 at runtime,
        # silently defeating the floor; such inputs must use
        # gated=False (ADVICE r10). Streaming frames have no .rdd —
        # the probe fails closed (no repartition on a streaming plan).
        try:
            if df.rdd.getNumPartitions() >= target:
                return df
        except PySparkException:
            return df
    return df.repartition(target)


def pull_if_small(df: DataFrame, max_rows: int | None) -> pa.Table | DataFrame:
    """The size gate of every driver/distributed operator: ``df`` is
    cached and read once via ``limit(max_rows + 1).toArrow()``. At most
    ``max_rows`` rows: the Arrow table (rows in no set order) is
    returned and the cache released. More: the cached, computed frame
    is returned, so the distributed path never re-runs the upstream.
    ``None`` pulls all uncached (a forced driver path); a negative
    bound returns the frame cached, not yet computed (a forced
    distributed path). A cache the caller made is never released."""
    if max_rows is None:
        return df.toArrow()
    owned = df.storageLevel == StorageLevel.NONE
    df = df.cache()
    if max_rows < 0:
        return df
    tbl = df.limit(max_rows + 1).toArrow()
    if tbl.num_rows > max_rows:
        return df
    if owned:
        df.unpersist()
    return tbl


def strategy_bound(strategy: str, max_rows: int) -> int | None:
    """``pull_if_small``'s bound for ``strategy=``: 'auto' gates at
    ``max_rows``, 'driver' always pulls, any other never does."""
    return {"auto": max_rows, "driver": None}.get(strategy, -1)


def pulled_ids(tbl: pa.Table, name: str) -> np.ndarray:
    """int64 ids from a pulled table; a NULL id raises instead of
    turning into a garbage integer."""
    col = tbl.column(name)
    if col.null_count:
        raise ValueError(f"NULL in pulled id column {name!r}")
    return col.to_numpy().astype(np.int64)


def pulled_matrix(tbl: pa.Table, name: str) -> np.ndarray:
    """Row-major float64 ``(n, dim)`` matrix from a pulled list column
    without NULL rows; zero rows give a ``(0, 0)`` one."""
    arr = tbl.column(name).combine_chunks()
    lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
    dim = int(lens[0]) if len(lens) else 0
    if (lens != dim).any():
        raise ValueError(f"vectors of unequal length in {name!r}")
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(len(arr), dim)


def block_pairs(
    df: DataFrame,
    id_col: str,
    vector_col: str,
    n_blocks: int,
    kernel: Callable[..., Iterable[dict]],
    schema: StructType,
) -> DataFrame:
    """Exact all-pairs work over a corpus too large to collect: the
    block-pair plan shared by ``similarity.neardup_pairs_blocked`` and
    ``knn._self_knn_topk_blocked``.

    Rows with a NULL vector are dropped; the rest hash by id into
    ``n_blocks`` blocks. One ``explode`` fans each row out to the
    ``n_blocks`` unordered block pairs ``(ba <= bb)`` holding its
    block; it sits on side A of the pair when its block is ``ba``,
    else on side B. One hash exchange on (ba, bb), a sort within
    partitions, and one ``mapInArrow`` that walks each partition's
    sorted stream call ``kernel(ba, bb, a_ids, a_mat, b_ids, b_mat)``
    once per pair whose two sides both hold rows. Each side comes as
    id-sorted int64 ids and a row-major float64 matrix; on the
    diagonal (``ba == bb``) side B is side A. A pair of ids therefore
    meets in exactly one call. The kernel yields dicts of ``schema``'s
    columns (arrays); a NULL id raises.

    Scale shape: each row is shuffled ``n_blocks`` times (n·B rows);
    a task holds one block pair at a time (2·(n/B)·dim float64), and
    Arrow batches, not pairs, set the Python invocation count: one
    pandas group call per pair cost ~5.6 ms each (2.96 s of sink wall
    for 528 pairs over 200 rows).
    """
    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    out_schema = to_arrow_schema(schema)
    rows = df.filter(F.col(vector_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vector_col).alias("_vec"),
    )
    rows = rows.withColumn(
        "_blk", F.pmod(F.xxhash64("_id"), F.lit(n_blocks)).cast("int")
    ).withColumn("_j", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
    fanned = rows.select(
        F.least("_blk", "_j").alias("ba"),
        F.greatest("_blk", "_j").alias("bb"),
        (F.col("_j") < F.col("_blk")).alias("_on_b"),
        "_id",
        "_vec",
    )

    def side(tbl: pa.Table) -> tuple[np.ndarray, np.ndarray]:
        return pulled_ids(tbl, "_id"), pulled_matrix(tbl, "_vec")

    def run_pair(held: list[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tbl = pa.Table.from_batches(held)
        ba, bb = tbl["ba"][0].as_py(), tbl["bb"][0].as_py()
        on_b = tbl["_on_b"]
        a_side = side(tbl.filter(pc.invert(on_b)))
        b_side = a_side if ba == bb else side(tbl.filter(on_b))
        if not len(a_side[0]) or not len(b_side[0]):
            return
        for cols in kernel(ba, bb, *a_side, *b_side):
            out = pa.RecordBatch.from_pydict(cols, schema=out_schema)
            if out.num_rows:
                yield out

    def stream(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # the partition is sorted by (ba, bb), so a pair's rows are
        # contiguous across batches and each pair ends before the next
        held: list[pa.RecordBatch] = []
        key = None
        for rb in batches:
            if not rb.num_rows:
                continue
            k = (
                rb["ba"].to_numpy().astype(np.int64) * n_blocks
                + rb["bb"].to_numpy()
            )
            cuts = np.flatnonzero(k[1:] != k[:-1]) + 1
            for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(k)]):
                if k[lo] != key:
                    if held:
                        yield from run_pair(held)
                    held, key = [], k[lo]
                held.append(rb.slice(lo, hi - lo))
        if held:
            yield from run_pair(held)

    return (
        fanned.repartition("ba", "bb")
        .sortWithinPartitions("ba", "bb", "_id")
        .mapInArrow(stream, schema)
    )
