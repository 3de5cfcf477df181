"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One ``local[3]`` Spark session per
run; the workload is a closed loop with one client. Steps:

1. record host state, generate the inputs from ``--seed``;
2. set-up: start the session, then one warm-up pass whose outputs are
   kept for checking, plus the workload's extra untimed warm-up passes
   (``setup_s`` = all of it, excluding input generation and the oracle
   side of the check);
3. check the warm-up outputs (DuckDB oracles / brute-force top-k);
4. timed passes until ``--seconds`` have elapsed and the workload's
   minimum pass count has run; after every
   operation the CacheManager state is recorded and the cache is
   cleared, so no pass reuses another's cached blocks.

``--trace 0`` reports the end-to-end metrics with tracing off:
``setup_s``; ``op_geomean_ms``, the geometric mean over operation
labels of each label's median latency in the timed passes; and
``pass_s``, one pass's operations summed at those medians. Each time
is net of hypervisor steal: a wall time times one minus the share of
the machine's demanded CPU time that was stolen while it ran
(``probe.steal_share``). On a shared 4-core VM that share swung from
0 to 0.3 between runs a minute apart and stretched raw pass times by
up to about 40 %; raw wall-clock figures stay in the artifact
(``wall_metrics``).
``--trace 1`` alternates untraced passes (jobs counted per operation
without job groups) with traced passes (spans plus per-layer job
groups), reports the per-layer metrics from the traced passes, the
tracing overhead, and whether job counts per operation matched.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``. A full artifact (host state, per-operation
records, failures by name, spans when traced) is written to
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
#: Spark task slots. One core of a 4-core host is left to the driver
#: JVM's JIT, GC and RPC threads and the Python client. The inputs are
#: small enough that a fourth slot does not shorten a pass, and pass
#: times spread less without it (one 60-s batch run each: about 6 % at
#: local[3], 10 % at local[4]).
CORES = 3


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _spark_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file from the launcher
    # JVM that spark-submit starts first, nor from the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM and its workers to end."""
    from pyspark import SparkContext

    from probe import _tree

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in _tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in _tree(os.getpid())[1:]:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _layer_metrics(sc, tr, ops, pass_ranges, pass_walls) -> dict:
    """Per-layer sums per traced pass, then the median over passes.
    Build and sink figures include the source reads made inside them;
    ``sources.*`` is that share."""
    from probe import JobStats, group_stats, wait_listeners

    wait_listeners(sc)
    per_pass = []
    for (lo, hi), wall in zip(pass_ranges, pass_walls):
        m = {k: 0.0 for k in (
            "sources.load_calls", "sources.load_s", "sources.load_jobs",
            "operators.build_s", "sink.wall_s",
            "cache.entries_after", "cache.rdds_after",
        )}
        build, sink = JobStats(), JobStats()
        store = {"ingest": [], "search": [], "ann_search": []}
        files, ann_input = [], []
        for rec in ops.records[lo:hi]:
            m["cache.entries_after"] += rec["cache_entries"]
            m["cache.rdds_after"] += rec["cache_rdds"]
            op_jobs = 0
            for ci in tr.children(rec["span"]):
                child = tr.spans[ci]
                st = group_stats(sc, child.group)
                # reads are wrapped outermost-only, so they sit directly
                # under the build or sink call that made them
                for si in tr.children(ci):
                    src = tr.spans[si]
                    s = group_stats(sc, src.group)
                    m["sources.load_calls"] += 1
                    m["sources.load_s"] += src.end - src.start
                    m["sources.load_jobs"] += s.jobs
                    st.add(s)
                op_jobs += st.jobs
                if child.name == "operators.build":
                    m["operators.build_s"] += child.end - child.start
                    build.add(st)
                else:
                    m["sink.wall_s"] += child.end - child.start
                    sink.add(st)
                    if rec["kind"] == "ann_search":
                        ann_input.append(st.input_bytes)
            rec["traced_jobs"] = op_jobs
            if rec["kind"] in store:
                store[rec["kind"]].append(op_jobs)
            if "files_written" in rec:
                files.append(rec["files_written"])
        m.update({
            "operators.build_jobs": build.jobs,
            "operators.build_stages": build.stages,
            "operators.build_tasks": build.tasks,
            "operators.build_exec_s": build.exec_run_s,
            "sink.jobs": sink.jobs,
            "sink.stages": sink.stages,
            "sink.tasks": sink.tasks,
            "sink.core_busy_frac": (
                sink.exec_run_s / (m["sink.wall_s"] * CORES)
                if m["sink.wall_s"] else 0.0
            ),
            "sink.exec_run_s": sink.exec_run_s,
            "sink.exec_cpu_s": sink.exec_cpu_s,
            "sink.gc_s": sink.gc_s,
            "sink.shuffle_read_bytes": sink.shuffle_read_bytes,
            "sink.shuffle_write_bytes": sink.shuffle_write_bytes,
            "sink.input_bytes": sink.input_bytes,
            "sink.spill_bytes": sink.spill_bytes,
            "store.ingest_jobs": _mean(store["ingest"]),
            "store.ingest_files_written": _mean(files),
            "store.search_jobs": _mean(store["search"]),
            "store.ann_search_jobs": _mean(store["ann_search"]),
            "store.ann_input_bytes": _mean(ann_input),
            "pass_s": wall,
        })
        per_pass.append(m)
    return {k: _median([p[k] for p in per_pass]) for k in per_pass[0]}


def _label_medians(records, passes, key="net_s") -> dict[str, float]:
    """Median latency of each operation label over every timed pass.
    Pooling by label rather than taking one wall time per pass keeps a
    short slow spell of the host from moving the run's figure."""
    walls: dict[str, list[float]] = {}
    for p in passes:
        for r in records[p[1]:p[2]]:
            walls.setdefault(r["label"], []).append(r[key])
    return {k: _median(v) for k, v in walls.items()}


def _pass_s(records, passes, key="net_s") -> float:
    """A pass's wall time built from per-label medians: the sum, over
    the operations of one pass, of their label's median latency."""
    med = _label_medians(records, passes, key)
    first = passes[0]
    return sum(med[r["label"]] for r in records[first[1]:first[2]])


def _op_geomean(records, passes, key="net_s") -> float:
    """Geometric mean over operation labels of each label's median
    latency."""
    return math.exp(_mean([
        math.log(v) for v in _label_medians(records, passes, key).values()
    ]))


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _split_check(tr, ops, traced, roles: dict) -> list[dict]:
    """The layer split each batch query was chosen for, from the traced
    passes: a build query spends longer in its build call than in its
    sink; a sink query spends at least 80 % of its wall time in the sink."""
    out = []
    for name, role in roles.items():
        build, sink, wall = [], [], []
        for p in traced:
            for rec in ops.records[p[1]:p[2]]:
                if rec["label"] != name:
                    continue
                d = {tr.spans[i].name: tr.spans[i].end - tr.spans[i].start
                     for i in tr.children(rec["span"])}
                build.append(d.get("operators.build", 0.0))
                sink.append(d.get("sink", 0.0))
                wall.append(rec["wall_s"])
        b, s, w = _median(build), _median(sink), _median(wall)
        if role == "build":
            rule, holds = "operators.build_s > sink.wall_s", b > s
        else:
            rule, holds = "sink.wall_s >= 0.8 * op wall", s >= 0.8 * w
        out.append({"query": name, "rule": rule, "holds": holds,
                    "build_s": b, "sink_s": s, "wall_s": w})
    return out


def _declared() -> dict[str, dict[str, str]]:
    """Metric name -> unit for each section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {sec: {m["name"]: m["unit"] for m in spec[sec]}
            for sec in ("end_to_end", "per_layer")}


def _timed_passes(args, min_passes, wl, ops, tr, rss) -> list[tuple]:
    """Whole passes until ``args.seconds`` have elapsed and at least the
    workload's ``min_passes`` have run (timings right after the cold
    warm-up pass still fall as the JIT warms; the median over several
    passes is what keeps runs comparable). Traced runs alternate plain
    and traced passes, starting and ending plain, so the overhead
    estimate is not skewed by that warming either."""
    from probe import tree_cpu_s
    from workloads import SourceSpans

    sources = SourceSpans(tr)
    passes = []  # (kind, first record, end record, wall_s, cpu_s)
    t_run = time.perf_counter()
    while True:
        if (
            time.perf_counter() - t_run >= args.seconds
            and len(passes) >= min_passes
            and (not args.trace or (len(passes) >= 3 and passes[-1][0] == "plain"))
        ):
            break
        traced = bool(args.trace) and bool(passes) and passes[-1][0] == "plain"
        ops.count_jobs = bool(args.trace) and not traced
        tr.on = traced
        if traced:
            sources.install()
        lo = len(ops.records)
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        span = tr.open("pass", n=len(passes))
        try:
            wl.run_pass(ops)
        finally:
            tr.close(span)
            if traced:
                sources.remove()
            tr.on = False
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        passes.append(("traced" if traced else "plain", lo, len(ops.records),
                       wall, cpu))
        rss.sample()
        print(f"perfbench pass {len(passes)} {passes[-1][0]}: {wall:.3f}s "
              f"cpu {cpu:.2f}s", file=sys.stderr)
    return passes


def _measure(args, cfg, spark, start_s, setup_ticks, work, data_dir) -> dict:
    from probe import RssSampler, Tracer, cpu_ticks, steal_share
    from workloads import LAYER_MAP, BatchWorkload, Ops, StoreWorkload

    sc = spark.sparkContext
    rss = RssSampler()
    tr = Tracer(sc, on=False)
    ops = Ops(spark, tr)
    t = time.perf_counter()
    if cfg["kind"] == "batch":
        wl = BatchWorkload(spark, data_dir, list(cfg["queries"]))
        outputs = wl.warmup(ops)
        # the first noop pass after the checked one still runs ~20 %
        # slow (JIT), so it is set-up too
        for _ in range(cfg["extra_warmup_passes"]):
            wl.run_pass(ops)
        warmup_s = time.perf_counter() - t
        setup_share = steal_share(setup_ticks, cpu_ticks())
        t = time.perf_counter()
        checked, mismatches = wl.check(outputs)
        recall_k, extra_checks = 0.0, 0
    else:
        wl = StoreWorkload(spark, work, args.seed, cfg)
        snaps: list = []
        outputs = wl.run_pass(ops, snaps)
        warmup_s = time.perf_counter() - t - outputs["snapshot_s"]
        setup_share = steal_share(setup_ticks, cpu_ticks())
        t = time.perf_counter()
        checked, mismatches, recall_k = wl.check(outputs, snaps)
        extra_checks = 1  # the store row count
    check_s = time.perf_counter() - t
    rss.sample()
    n_warm = len(ops.records)

    if args.trace:
        run_span = tr.begin("run", workload=args.workload, seed=args.seed)
    ticks = cpu_ticks()
    passes = _timed_passes(args, cfg["min_passes"], wl, ops, tr, rss)
    steal = steal_share(ticks, cpu_ticks())

    failures = list(mismatches) + ops.failures
    attempted = len(ops.records) + extra_checks
    plain = [p for p in passes if p[0] == "plain"]
    timed_ops = [r for p in plain for r in ops.records[p[1]:p[2]]]
    by_kind: dict = {}
    for r in timed_ops:
        by_kind.setdefault(r["kind"], []).append(r["wall_s"])
    art = {
        "workload": args.workload, "definition": cfg, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": CORES,
        "session.start_s": start_s, "session.warmup_s": warmup_s,
        "check_s": check_s, "checked_outputs": checked,
        "attempted": attempted, "failed": len(failures),
        "failed_frac": len(failures) / attempted, "failures": failures,
        "latency_p50_ms": {k: 1e3 * _median(v) for k, v in by_kind.items()},
        "latency_n": {k: len(v) for k, v in by_kind.items()},
        "ann_recall_at_k": recall_k,
        "passes": [{"kind": p[0], "wall_s": p[3], "cpu_s": p[4]} for p in passes],
        "peak_rss_mb": rss.peak_mb,
        "steal_share_setup": setup_share,
        "steal_share_timed": steal,
        "warmup_ops": [{k: v for k, v in r.items() if k != "span"}
                       for r in ops.records[:n_warm]],
        "ops": [{k: v for k, v in r.items() if k != "span"}
                for r in ops.records[n_warm:]],
    }
    if not args.trace:
        art["metrics"] = {
            "setup_s": (start_s + warmup_s) * (1.0 - setup_share),
            "pass_s": _pass_s(ops.records, plain),
            "op_geomean_ms": 1e3 * _op_geomean(ops.records, plain),
        }
        art["wall_metrics"] = {
            "setup_s": start_s + warmup_s,
            "pass_s": _pass_s(ops.records, plain, "wall_s"),
            "op_geomean_ms": 1e3 * _op_geomean(ops.records, plain, "wall_s"),
        }
        art["cpu_s"] = _median([p[4] for p in plain])
        return art

    tr.end(run_span)
    traced = [p for p in passes if p[0] == "traced"]
    layers = _layer_metrics(sc, tr, ops, [(p[1], p[2]) for p in traced],
                            [p[3] for p in traced])
    lists_bytes = outputs.get("lists_bytes", 0) if cfg["kind"] == "store" else 0
    plain_jobs = [[r["jobs"] for r in ops.records[p[1]:p[2]]] for p in plain]
    traced_jobs = [[r["traced_jobs"] for r in ops.records[p[1]:p[2]]]
                   for p in traced]
    match = all(j == plain_jobs[0] for j in plain_jobs + traced_jobs)
    layers.update({
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "session.peak_rss_mb": rss.peak_mb,
        # share of the IVF lists' bytes one ANN query reads
        "store.ann_bytes_read_frac": (
            layers["store.ann_input_bytes"] / lists_bytes if lists_bytes else 0.0),
        "store.ann_recall_at_k": recall_k,
        "trace.overhead_frac": (
            layers["pass_s"] / _median([p[3] for p in plain]) - 1.0),
        "trace.jobs_match": int(match),
    })
    art["layers"] = layers
    art["layer_map"] = LAYER_MAP
    art["split_check"] = _split_check(tr, ops, traced, cfg.get("queries", {}))
    art["jobs_per_op"] = {"plain": plain_jobs, "traced": traced_jobs}
    art["spans"] = tr.dump()
    if not match:
        print("perfbench: job counts per operation differ with and without "
              "the recorder", file=sys.stderr)
    for chk in art["split_check"]:
        if not chk["holds"]:
            print(f"perfbench: layer split does not hold: {chk}", file=sys.stderr)
    art["metrics"] = layers
    return art


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "vectorsearchutil_spark")):
        print("perfbench: the program (vectorsearchutil_spark/) is not in "
              f"{ROOT}; run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cfg = WORKLOADS[args.workload]
    declared = _declared()["per_layer" if args.trace else "end_to_end"]

    import gen
    from probe import cpu_ticks, host_state

    host = host_state()
    print(f"perfbench host: {host}", file=sys.stderr)
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.perf_counter()
        data_dir = os.path.join(work, "data")
        rows = (gen.write(data_dir, args.seed, cfg["scale"])
                if cfg["kind"] == "batch" else {})
        gen_s = time.perf_counter() - t
        _spark_env(work)

        from vectorsearchutil_spark import queries as Q
        from vectorsearchutil_spark.session import (
            ensure_package_on_executors,
            get_spark,
        )

        missing = [n for n in cfg.get("queries", []) if n not in Q.QUERIES]
        if missing:
            print(f"perfbench: workload members not in QUERIES: {missing}",
                  file=sys.stderr)
            return 2
        setup_ticks = cpu_ticks()
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        ensure_package_on_executors(spark)
        start_s = time.perf_counter() - t
        try:
            art = _measure(args, cfg, spark, start_s, setup_ticks, work,
                           data_dir)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    art.update({"host": host, "input_rows": rows, "gen_s": gen_s})
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, name), "w") as fh:
        json.dump(art, fh, indent=1, default=str)
    for f in art["failures"]:
        print(f"perfbench FAILED {f}", file=sys.stderr)
    got = set(art["metrics"]) & set(declared)
    if got != set(declared):
        print(f"perfbench: metrics not produced: {sorted(set(declared) - got)}",
              file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": art["failed"] == 0,
        "attempted": art["attempted"],
        "failed": art["failed"],
        "metrics": {k: {"value": art["metrics"][k], "unit": u}
                    for k, u in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
