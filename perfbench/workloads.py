"""The workloads, their frozen membership, and the passes that
drive them.

Every workload is a closed loop with one client: the next operation
starts when the previous one has returned. Each layer is timed from
outside, around calls into public functions: the registered query
callables ``queries.QUERIES[name](spark, dir)``, the sink's
``write.format("noop")``, ``sources.readers.load_table`` /
``DataFrameReader.parquet``, and the ``store.VectorStore`` methods.

Membership is small on purpose. On a 4-core host one cold pass over a
build-heavy query costs 10-20 s of JIT and codegen warm-up, and every
run starts its own session, so a run has to stay under about a minute
for a round of many seeded runs to finish within an hour. The batch
workload therefore holds the one query that shows each side of the
build/sink split most clearly, run for several passes. Changing
membership is a benchmark change of its own.
"""

from __future__ import annotations

import functools
import glob
import math
import os
import time

from probe import Tracer

WORKLOADS = {
    "batch": {
        "kind": "batch",
        "why": (
            "a build-heavy query (pagerank: 9 eager build jobs, no real sink) "
            "and a sink-heavy one (cosine dedup: ~90 % in sink jobs) per pass; "
            "the per-layer split shows which side a change moved"
        ),
        # query -> the layer it was chosen to exercise
        "queries": {
            "graph_pagerank_neardup": "build",
            "dedup_embedding_cosine_blocked": "sink",
        },
        "scale": 0.1,
        "extra_warmup_passes": 1,
        "min_passes": 3,
    },
    "store_rw": {
        "kind": "store",
        "why": (
            "VectorStore on a manifest log: two 500-doc appends each followed "
            "by a kNN query, then an IVF build and an ANN query; point-lookup "
            "latency next to append cost"
        ),
        "batches": 2,
        "searches_per_batch": 1,
        "ann_searches": 1,
        "min_passes": 2,
        "k": 5,
        "n_lists": 8,
        "n_probe": 2,
    },
}

#: Per-layer metrics -> the end-to-end metric each should move -> on
#: which workloads. Written into every artifact.
LAYER_MAP = {
    "session.start_s, session.warmup_s": ("setup_s", ["all"]),
    "session.peak_rss_mb, cache.entries_after, cache.rdds_after": (
        "memory held by a long-lived session (no end-to-end bound)", ["all"],
    ),
    "sources.load_calls, sources.load_s, sources.load_jobs": (
        "pass_s, a small share; op_geomean_ms on store_rw, where "
        "query_ann re-reads two parquet dirs per call",
        ["batch", "store_rw"],
    ),
    "operators.build_s, .build_jobs, .build_stages, .build_tasks, "
    ".build_exec_s": (
        "pass_s and op_geomean_ms through graph_pagerank_neardup; "
        "predicted no change in dedup_embedding_cosine_blocked's latency",
        ["batch", "store_rw"],
    ),
    "sink.wall_s, .jobs, .stages, .tasks, .core_busy_frac, .exec_run_s, "
    ".exec_cpu_s, .shuffle_read_bytes, .shuffle_write_bytes, .input_bytes, "
    ".spill_bytes": (
        "pass_s and op_geomean_ms through dedup_embedding_cosine_blocked; "
        "predicted no change in graph_pagerank_neardup's latency",
        ["batch"],
    ),
    "store.ingest_jobs, store.ingest_files_written": (
        "pass_s on store_rw; op_geomean_ms must not rise with them",
        ["store_rw"],
    ),
    "store.search_jobs, store.ann_search_jobs, store.ann_bytes_read_frac": (
        "op_geomean_ms on store_rw, with store.ann_recall_at_k held",
        ["store_rw"],
    ),
}


class SourceSpans:
    """Wraps the program's read entry points so each outermost call
    becomes a ``sources.load`` span with its own job group. Installed
    only while tracing; the wrapped functions are otherwise untouched.
    """

    def __init__(self, tracer: Tracer) -> None:
        from pyspark.sql.readwriter import DataFrameReader
        from vectorsearchutil_spark import queries, queries_pending
        from vectorsearchutil_spark.sources import readers

        self.tr = tracer
        self.depth = 0
        # load_table is looked up through each importing module's globals
        self.targets = [
            (mod, "load_table") for mod in (queries, queries_pending, readers)
        ] + [(DataFrameReader, "parquet")]
        self.saved = [getattr(obj, name) for obj, name in self.targets]

    def _wrap(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.tr.on or self.depth:
                return fn(*args, **kwargs)
            self.depth += 1
            span = self.tr.open("sources.load", job_group=True)
            try:
                return fn(*args, **kwargs)
            finally:
                self.tr.close(span)
                self.depth -= 1

        return wrapper

    def install(self) -> None:
        for (obj, name), fn in zip(self.targets, self.saved):
            setattr(obj, name, self._wrap(fn))

    def remove(self) -> None:
        for (obj, name), fn in zip(self.targets, self.saved):
            setattr(obj, name, fn)


class Ops:
    """Runs one operation as a layer-call sequence and keeps the record
    the metrics are computed from."""

    def __init__(self, spark, tracer: Tracer, count_jobs: bool = False):
        self.spark = spark
        self.tr = tracer
        #: untraced job counting (new job ids per operation) for the
        #: recorder-neutrality check
        self.count_jobs = count_jobs
        self.records: list[dict] = []
        self.failures: list[str] = []

    def run(self, kind: str, label: str, build, sink=None):
        """``build()`` is the program call; ``sink(result)`` consumes
        what it returned. Returns the sink's output (or the build's)."""
        from probe import cpu_ticks, max_job_id, steal_share

        sc = self.spark.sparkContext
        before = max_job_id(sc) if self.count_jobs else None
        op = self.tr.open("op", kind=kind, label=label)
        out, err = None, None
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        try:
            b = self.tr.open("operators.build", job_group=True)
            try:
                out = build()
            finally:
                self.tr.close(b)
            if sink is not None:
                s = self.tr.open("sink", job_group=True)
                try:
                    out = sink(out)
                finally:
                    self.tr.close(s)
        except Exception as e:  # an operation that fails is counted, not fatal
            err = f"{type(e).__name__}: {e}"[:300]
        wall = time.perf_counter() - t0
        share = steal_share(ticks, cpu_ticks())
        self.tr.close(op)
        rec = {"kind": kind, "label": label, "wall_s": wall,
               "net_s": wall * (1.0 - share), "steal_share": share, "span": op}
        if err:
            rec["error"] = err
            self.failures.append(f"{label}: {err}")
        if self.count_jobs:
            rec["jobs"] = max_job_id(sc) - before
        rec["cache_entries"], rec["cache_rdds"] = cache_state(self.spark)
        self.spark.catalog.clearCache()
        self.records.append(rec)
        return out


def cache_state(spark) -> tuple[int, int]:
    """(CacheManager entries, persistent RDDs) of the session."""
    jss = spark._jsparkSession
    cm = jss.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm).size()
    rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    return entries, rdds


# -- batch workloads --------------------------------------------------


class BatchWorkload:
    def __init__(self, spark, data_dir: str, queries: list[str]):
        from vectorsearchutil_spark import queries as Q

        self.spark = spark
        self.data_dir = data_dir
        self.queries = queries
        self.fns = {n: Q.QUERIES[n] for n in queries}
        self.oracles = {n: Q.ORACLES.get(n) for n in queries}

    def warmup(self, ops: Ops) -> dict:
        """One pass whose results are collected for checking."""

        def collect(df):
            return df.columns, [tuple(r) for r in df.collect()]

        return {
            n: ops.run("query", n, functools.partial(self.fns[n], self.spark,
                                                      self.data_dir), collect)
            for n in self.queries
        }

    def run_pass(self, ops: Ops) -> None:
        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        for n in self.queries:
            ops.run("query", n, functools.partial(self.fns[n], self.spark,
                                                   self.data_dir), noop)

    def check(self, outputs: dict) -> tuple[int, list[str]]:
        """(operations checked, mismatches) against the DuckDB oracles."""
        from check import compare_query, duckdb_connection
        from gen import TABLES

        con = duckdb_connection(self.data_dir, TABLES)
        bad = []
        for n in self.queries:
            if outputs.get(n) is None:
                bad.append(f"{n}: no output")
                continue
            if self.oracles[n] is None:
                bad.append(f"{n}: no oracle")
                continue
            try:
                why = compare_query(con, self.oracles[n], *outputs[n])
            except Exception as e:  # oracle SQL error counts as a mismatch
                why = f"oracle error: {e}"[:300]
            if why:
                bad.append(f"{n}: {why}")
        con.close()
        return len(self.queries), bad


# -- store_rw ---------------------------------------------------------


def _files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


class StoreWorkload:
    def __init__(self, spark, work_dir: str, seed: int, cfg: dict):
        import gen

        self.spark = spark
        self.work_dir = work_dir
        self.cfg = cfg
        self.batches = gen.store_batches(seed, cfg["batches"])
        n_search = cfg["batches"] * cfg["searches_per_batch"]
        self.search = gen.search_texts(seed, self.batches, n_search)
        self.ann = gen.search_texts(seed + 1, self.batches, cfg["ann_searches"])
        self.n_pass = 0

    def _store(self):
        from vectorsearchutil_spark.store import VectorStore

        self.n_pass += 1
        path = os.path.join(self.work_dir, f"store{self.n_pass}")
        return VectorStore(self.spark, acid_path=path), path

    def run_pass(self, ops: Ops, snapshots: list | None = None) -> dict:
        """One pass from an empty store. With ``snapshots`` the store's
        (id, vector) contents are captured after each ingest, outside
        every operation, for the brute-force check."""
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType(
            [StructField(c, StringType()) for c in ("target", "option1", "option2")]
        )
        cfg, k = self.cfg, self.cfg["k"]
        store, path = self._store()
        out = {"search": [], "ann": [], "path": path}

        def rows(df):
            return [(r["id"], r["distance"]) for r in df.select("id", "distance").collect()]

        per = cfg["searches_per_batch"]
        for bi, batch in enumerate(self.batches):
            before = _files(path)
            ops.run("ingest", f"ingest[{bi}]", lambda b=batch: store.set_data(
                self.spark.createDataFrame(b, schema), append=True))
            ops.records[-1]["files_written"] = _files(path) - before
            if snapshots is not None:
                t0 = time.perf_counter()
                snapshots.append(store.data.select("id", "vector").toArrow())
                out.setdefault("snapshot_s", 0.0)
                out["snapshot_s"] += time.perf_counter() - t0
            for q in self.search[bi * per:(bi + 1) * per]:
                got = ops.run("search", "search",
                              lambda q=q: store.query(q, k), rows)
                out["search"].append((bi, q, got))
        ops.run("ann_build", "ann_build",
                lambda: store.build_ann_index(n_lists=cfg["n_lists"]))
        for q in self.ann:
            got = ops.run(
                "ann_search", "ann_search",
                lambda q=q: store.query_ann(q, k, n_probe=cfg["n_probe"]), rows,
            )
            out["ann"].append((q, got))
        if snapshots is not None:
            out["count"] = store.count()
            out["lists_bytes"] = _bytes(os.path.join(path + "__ivf", "lists"))
        return out

    def check(self, out: dict, snapshots: list) -> tuple[int, list[str], float]:
        """(operations checked, mismatches, mean ANN recall@k)."""
        import numpy as np
        from check import compare_search, exact_topk, recall
        from vectorsearchutil_spark.embedders import embed_udf
        from pyspark.sql import functions as F

        k = self.cfg["k"]
        texts = sorted({q for _, q, _ in out["search"]} | {q for q, _ in out["ann"]})
        qdf = self.spark.createDataFrame([(t,) for t in texts], ["t"])
        qvec = {
            r["t"]: np.array(r["v"], dtype=np.float32)
            for r in qdf.select("t", embed_udf("hash64")(F.col("t")).alias("v")).collect()
        }

        def arrays(tbl):
            ids = tbl.column("id").to_numpy()
            vecs = np.stack(tbl.column("vector").to_numpy(zero_copy_only=False))
            return ids, vecs

        bad, n = [], 0
        for bi, q, got in out["search"]:
            n += 1
            if got is None:
                bad.append(f"search[{bi}]: no output")
                continue
            why = compare_search(got, *arrays(snapshots[bi]), qvec[q], k)
            if why:
                bad.append(f"search[{bi}] {q[:30]!r}: {why}")
        ids, vecs = arrays(snapshots[-1])
        recalls = []
        for q, got in out["ann"]:
            n += 1
            if got is None:
                bad.append("ann_search: no output")
                continue
            want, _ = exact_topk(ids, vecs, qvec[q], k)
            recalls.append(recall([g[0] for g in got], want.tolist()))
            # every returned row must be a stored row with its exact distance
            pos = {int(i): j for j, i in enumerate(ids)}
            for gid, gd in got:
                if gid not in pos:
                    bad.append(f"ann_search {q[:30]!r}: id {gid} not in the store")
                    break
                v = vecs[pos[gid]].astype(np.float64) - qvec[q]
                d = float(np.sqrt((v * v).sum()))
                if not math.isclose(gd, d, rel_tol=1e-5, abs_tol=1e-6):
                    bad.append(f"ann_search {q[:30]!r}: id {gid} distance {gd} != {d}")
                    break
        n += 1
        distinct = len({r[0] for b in self.batches for r in b})
        if out["count"] != distinct:
            bad.append(f"store rows {out['count']} != distinct targets {distinct}")
        return n, bad, (sum(recalls) / len(recalls) if recalls else 0.0)
