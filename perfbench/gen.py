"""Seeded input generator for the benchmark.

Writes the ten tables the query registry reads (``region`` ...
``embeddings``, one parquet file each, the layout ``sources.readers.
load_table`` expects) plus the document batches the ``store_rw``
workload ingests. Column names, types and value distributions follow
the sf0.1 test tables (TPC-H-style star schema, an ``events`` stream,
near-duplicate ``documents`` and 64-d unit ``embeddings``); ``scale``
multiplies the sf0.1 row counts.

Two seeded steps sit on top of the base tables:

* every table's rows are written in a seeded permuted order;
* each surrogate key domain (customer, supplier, part, order) gets a
  seeded bijective remap, applied to the primary key and to every
  foreign key that points at it, so joins still match.

The same ``(seed, scale)`` gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.1 test tables; ``scale`` multiplies these.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
#: (table, column) pairs that hold a key of each remapped domain.
KEY_COLUMNS = {
    "customer": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "supplier": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "orders": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "red", "blue", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "rod", "gear", "anvil", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
EMB_DIM = 64
N_LABELS = 10
#: Documents per ``store_rw`` ingest batch.
STORE_BATCH_ROWS = 500

_DAY_US = 86_400 * 1_000_000


def _days(start: dt.date, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _texts(n: int, rng) -> list[str]:
    """Random word strings with ~5 % ``<earlier text> dup`` near-
    duplicates and a few exact copies, like the sf0.1 documents."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(WORDS[w] for w in words[pos:pos + ln]))
        pos += ln
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    for i in range(n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    return texts


def base_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The tables before row permutation and key remap."""
    rng = np.random.default_rng([seed, 0])
    n = {t: max(1, int(round(c * scale))) for t, c in SF01_ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(dt.date(1995, 1, 1), 2405, no, rng),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(dt.date(1995, 1, 2), 2499, nl, rng),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(round(15_000 * scale))), ne)
        .astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = _texts(nd, rng)
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, N_LABELS, nv).astype(np.int32),
    })
    return out


def key_remaps(seed: int, tables: dict[str, pa.Table]) -> dict[str, np.ndarray]:
    """One seeded permutation per key domain: ``new = perm[old]``."""
    rng = np.random.default_rng([seed, 1])
    return {
        dom: rng.permutation(tables[cols[0][0]].num_rows).astype(np.int64)
        for dom, cols in KEY_COLUMNS.items()
    }


def apply(seed: int, tables: dict[str, pa.Table]) -> dict[str, pa.Table]:
    """Remap keys, then permute each table's row order."""
    remap = key_remaps(seed, tables)
    out = dict(tables)
    for dom, cols in KEY_COLUMNS.items():
        for table, col in cols:
            t = out[table]
            old = t.column(col).to_numpy()
            i = t.schema.get_field_index(col)
            out[table] = t.set_column(i, col, pa.array(remap[dom][old]))
    rng = np.random.default_rng([seed, 2])
    return {
        name: t.take(pa.array(rng.permutation(t.num_rows)))
        for name, t in out.items()
    }


def store_batches(seed: int, n_batches: int) -> list[list[tuple]]:
    """``store_rw`` ingest batches: ``(target, option1, option2)``
    rows. Texts share the documents' generator, so batches carry
    near-duplicates and a few exact repeats across batches."""
    rng = np.random.default_rng([seed, 3])
    n = n_batches * STORE_BATCH_ROWS
    texts = _texts(n, rng)
    langs = rng.choice(5, n, p=LANG_P)
    rows = [(texts[i], LANGS[langs[i]], f"src{i % 20}") for i in range(n)]
    return [
        rows[b * STORE_BATCH_ROWS:(b + 1) * STORE_BATCH_ROWS]
        for b in range(n_batches)
    ]


def search_texts(seed: int, batches: list[list[tuple]], n: int) -> list[str]:
    """Query texts for one pass: half are stored targets (an exact hit
    exists), half are fresh texts."""
    rng = np.random.default_rng([seed, 4])
    stored = [r[0] for b in batches for r in b]
    fresh = _texts(n, rng)
    picks = rng.integers(0, len(stored), n)
    return [stored[picks[i]] if i % 2 == 0 else fresh[i] for i in range(n)]


def write(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = apply(seed, base_tables(seed, scale))
    for name in TABLES:
        pq.write_table(
            tables[name].replace_schema_metadata(None),
            os.path.join(out_dir, f"{name}.parquet"),
        )
    return {name: tables[name].num_rows for name in TABLES}
