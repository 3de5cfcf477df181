"""Self-tests for the input generator and the workload definitions.

    python3 perfbench/selftest.py

Checks that the same seed gives byte-identical files and another seed
different ones, that each key remap is a bijection applied
consistently to primary and foreign keys, and that every workload
member is a registered query with an oracle. Exits non-zero on the
first failure. Needs no Spark session.
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCALE = 0.01


def _same_bytes(a: str, b: str) -> bool:
    return all(
        filecmp.cmp(os.path.join(a, f"{t}.parquet"), os.path.join(b, f"{t}.parquet"),
                    shallow=False)
        for t in gen.TABLES
    )


def test_seed_determinism(tmp: str) -> None:
    a, b, c = (os.path.join(tmp, x) for x in "abc")
    gen.write(a, 11, SCALE)
    gen.write(b, 11, SCALE)
    gen.write(c, 12, SCALE)
    assert _same_bytes(a, b), "same seed gave different files"
    for t in gen.TABLES:
        if t in ("region", "nation"):
            continue  # fixed dimension tables; only their row order moves
        assert not filecmp.cmp(
            os.path.join(a, f"{t}.parquet"), os.path.join(c, f"{t}.parquet"),
            shallow=False,
        ), f"{t}: different seeds gave identical files"
    assert gen.store_batches(11, 2) == gen.store_batches(11, 2)
    assert gen.store_batches(11, 2) != gen.store_batches(12, 2)


def test_key_remap(tmp: str) -> None:
    seed = 5
    base = gen.base_tables(seed, SCALE)
    remap = gen.key_remaps(seed, base)
    out = gen.apply(seed, base)
    for dom, cols in gen.KEY_COLUMNS.items():
        perm = remap[dom]
        n = base[cols[0][0]].num_rows
        assert sorted(perm.tolist()) == list(range(n)), f"{dom}: not a bijection"
        assert (perm != np.arange(n)).any(), f"{dom}: remap is the identity"
        for table, col in cols:
            old = base[table].column(col).to_numpy()
            new = out[table].column(col).to_numpy()
            # rows are permuted too: compare as multisets
            assert np.array_equal(np.sort(perm[old]), np.sort(new)), (
                f"{table}.{col}: remap not applied consistently")
    # a join through the remapped keys matches the base join row-for-row
    li_b, o_b = base["lineitem"], base["orders"]
    li, o = out["lineitem"], out["orders"]
    cust_b = dict(zip(o_b.column("o_orderkey").to_pylist(),
                      o_b.column("o_custkey").to_pylist()))
    cust = dict(zip(o.column("o_orderkey").to_pylist(),
                    o.column("o_custkey").to_pylist()))
    want = sorted(remap["customer"][cust_b[k]] for k in li_b.column("l_orderkey").to_pylist())
    got = sorted(cust[k] for k in li.column("l_orderkey").to_pylist())
    assert want == got, "lineitem -> orders -> customer join changed under remap"
    # files on disk carry the remapped keys
    d = os.path.join(tmp, "k")
    gen.write(d, seed, SCALE)
    on_disk = pq.read_table(os.path.join(d, "customer.parquet")).column("c_custkey")
    assert on_disk.to_pylist() == out["customer"].column("c_custkey").to_pylist()


def test_members_registered() -> None:
    from vectorsearchutil_spark import queries as Q

    for name, cfg in WORKLOADS.items():
        for q in cfg.get("queries", {}):
            assert q in Q.QUERIES, f"{name}: {q} not in QUERIES"
            assert q in Q.ORACLES, f"{name}: {q} has no oracle"


def main() -> int:
    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=os.path.join(HERE))
    try:
        for test in (test_seed_determinism, test_key_remap):
            test(tmp)
            print(f"ok {test.__name__}")
        test_members_registered()
        print("ok test_members_registered")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
