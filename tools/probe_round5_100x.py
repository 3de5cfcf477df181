"""100x-bench-scale probes (4x the 25x suite) for the signature
operator families: the 25x -> 100x scaling factor is the measured
answer to "would this plan hold at 1000x" — a near-linear factor
(~4x time for 4x data) means the plan has no hidden quadratic or
serial term on the path; the absolute numbers bound single-node
throughput.

Deterministic synthetic inputs (spark.range + hash mixes), warm-run
discipline and generators shared with tools/probe_round4_scale.py.

Usage: python tools/probe_round5_100x.py [op ...]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from tools.probe_round4_scale import (  # noqa: E402
    _probe_query,
    _varied_docs,
)

N_EVENTS = 10_000_000  # 4x the 25x suite
N_DOCS = 500_000


def probe_weighted_median_100x(spark):
    li = spark.range(60_000_000).selectExpr(
        "id AS l_orderkey",
        "cast(pmod(id, 7) AS INT) AS l_linenumber",
        "cast(1 + pmod(xxhash64(id, 3), 50) AS DOUBLE) AS l_quantity",
        "pmod(xxhash64(id, 5), 9000000) / 100.0 + 900.0"
        " AS l_extendedprice",
        "element_at(array('A','N','R'),"
        " cast(pmod(xxhash64(id, 7), 3) AS INT) + 1) AS l_returnflag",
    )
    dt, n = _probe_query(
        spark, "lineitem_weighted_median", "lineitem", li
    )
    return f"{dt:.1f}s @ 60M lines -> {n} groups (25x: 5.2s @ 15M)"


def probe_mad_100x(spark):
    e = spark.range(N_EVENTS).selectExpr(
        "id AS event_id",
        f"concat('t', pmod(xxhash64(id, 7), 5)) AS event_type",
        "pmod(xxhash64(id, 13), 1000000) / 100.0 AS value",
    )
    dt, n = _probe_query(spark, "events_value_mad_outliers", "events", e)
    return f"{dt:.1f}s @ 10M events -> {n} outliers (25x: 6.7s @ 2.5M)"


def probe_minhash_lsh_100x(spark):
    from vectorsearchutil_spark.operators.dedup import minhash_lsh_pairs

    docs = _varied_docs(spark, N_DOCS).cache()
    docs.count()
    t0 = time.time()
    n = minhash_lsh_pairs(docs).count()
    dt = time.time() - t0
    docs.unpersist()
    return f"{dt:.1f}s @ 500k docs -> {n} LSH candidate-verified pairs"


def probe_simhash64_100x(spark):
    from vectorsearchutil_spark.operators.dedup import simhash64_pairs

    docs = _varied_docs(spark, N_DOCS).cache()
    docs.count()
    t0 = time.time()
    n = simhash64_pairs(docs).count()
    dt = time.time() - t0
    docs.unpersist()
    return f"{dt:.1f}s @ 500k docs -> {n} simhash64 pairs"


def probe_ahash_neardup_100x(spark):
    from vectorsearchutil_spark.operators.multimodal import (
        ahash_neardup_pairs,
        image_ahash,
        synthesize_binary,
    )

    docs = _varied_docs(spark, N_DOCS).cache()
    docs.count()
    h = image_ahash(synthesize_binary(docs)).select("doc_id", "ahash")
    t0 = time.time()
    n = ahash_neardup_pairs(h, max_hamming=3, n_bands=4).count()
    dt = time.time() - t0
    docs.unpersist()
    return (
        f"{dt:.1f}s @ 500k images -> {n} pairs"
        " (25x after restructure: 4.1s @ 125k)"
    )


def probe_token_budget_100x(spark):
    from vectorsearchutil_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = spark.range(N_EVENTS).selectExpr(
        "id AS doc_id",
        "concat('s', pmod(xxhash64(id, 3), 2)) AS source",
        "repeat('w ', 20 + cast(pmod(xxhash64(id, 5), 200) AS INT))"
        " AS text",
    ).cache()
    docs.count()
    t0 = time.time()
    n = token_budget_sample(
        docs, {"s0": 40_000_000, "s1": 25_000_000}, seed="tb100"
    ).count()
    dt = time.time() - t0
    docs.unpersist()
    return f"{dt:.1f}s @ 10M docs / 2 sources -> {n} admitted (25x: 4.4s @ 2.5M)"


def probe_attribution_100x(spark):
    e = spark.range(N_EVENTS).selectExpr(
        "id AS event_id",
        "timestamp_micros(cast(1700000000000000 + id * 997000 AS BIGINT))"
        " AS ts",
        "pmod(xxhash64(id, 11), 200000) AS user_id",
        "CASE pmod(xxhash64(id, 13), 10) WHEN 0 THEN 'purchase'"
        " WHEN 1 THEN 'other' WHEN 2 THEN 'view' ELSE 'click' END"
        " AS event_type",
        "cast(pmod(xxhash64(id, 17), 10000) AS DOUBLE) / 100 AS value",
    )
    dt, n = _probe_query(spark, "events_attribution", "events", e)
    return f"{dt:.1f}s @ 10M events -> {n} purchases (25x: 0.2s @ 2.5M)"


PROBES = {
    "weighted_median_100x": probe_weighted_median_100x,
    "mad_100x": probe_mad_100x,
    "minhash_lsh_100x": probe_minhash_lsh_100x,
    "simhash64_100x": probe_simhash64_100x,
    "ahash_neardup_100x": probe_ahash_neardup_100x,
    "token_budget_100x": probe_token_budget_100x,
    "attribution_100x": probe_attribution_100x,
}


def main():
    from vectorsearchutil_spark.session import get_spark

    spark = get_spark("scale-probe-100x")
    spark.sparkContext.setLogLevel("ERROR")
    only = set(sys.argv[1:])
    for name, fn in PROBES.items():
        if only and name not in only:
            continue
        try:
            print(f"{name}: {fn(spark)}", flush=True)
        except Exception as e:  # noqa: BLE001 — probe must report
            print(f"{name}: FAILED {type(e).__name__}: {e}", flush=True)




# -- wave 2: the remaining top-cost bench families at 100x ------------

def probe_fuzzy_pairs_100x(spark):
    from vectorsearchutil_spark.operators.fuzzyjoin import fuzzy_pairs_ed1

    # 1.5M 10-char keys at ~12% density of a 1.25e7 space: 4x the
    # strings AND ~4x the neighbor density of the 25x probe, so the
    # pair output grows ~16x — the honest quadratic-output regime.
    df = spark.range(1_500_000).selectExpr(
        "id AS k",
        "concat('u', lpad(cast(pmod(id * 37, 12500000) as string),"
        " 9, '0')) AS s",
    ).cache()
    df.count()
    t0 = time.time()
    n = fuzzy_pairs_ed1(df, "k", "s").count()
    dt = time.time() - t0
    df.unpersist()
    return f"{dt:.1f}s @ 1.5M strings -> {n} ed<=1 pairs (25x: 4.1s @ 375k -> 188716)"


def probe_pagerank_100x(spark):
    from vectorsearchutil_spark.operators.graph import pagerank_over_pairs

    pairs = spark.range(8_000_000).selectExpr(
        "pmod(xxhash64(id, 1), 800000) AS id_a",
        "800000 + pmod(xxhash64(id, 2), 800000) AS id_b",
    ).cache()
    pairs.count()
    t0 = time.time()
    pagerank_over_pairs(pairs, iters=3).count()
    dt = time.time() - t0
    pairs.unpersist()
    return f"{dt:.1f}s @ 8M edges / 1.6M nodes, 3 iters (25x: 8.9s @ 2M edges)"


def probe_duplicate_spans_100x(spark):
    from vectorsearchutil_spark.operators.dedup import duplicate_spans

    # same bounded-frequency regime as the 25x probe: 10% of docs
    # share one 40-token block with exactly ONE partner (25k pairs)
    docs = spark.range(N_DOCS).selectExpr(
        "id AS doc_id",
        "concat("
        " concat_ws(' ', transform(sequence(1, 20 +"
        "   cast(pmod(xxhash64(id, 5), 60) AS INT)),"
        "   i -> concat('u', id, '_', i))),"
        " IF(id % 10 < 2,"
        "    concat(' ', concat_ws(' ', transform(sequence(1, 40),"
        "      i -> concat('blk', id div 10, '_', i)))), ''),"
        " ' ', concat_ws(' ', transform(sequence(1, 20),"
        "   i -> concat('v', id, '_', i)))"
        ") AS text",
    ).cache()
    docs.count()
    t0 = time.time()
    n = duplicate_spans(docs, width=8, min_span=12).count()
    dt = time.time() - t0
    docs.unpersist()
    return f"{dt:.1f}s @ 500k docs -> {n} span pairs (25x: 7.7s @ 125k -> 12500)"


def probe_connected_components_100x(spark):
    from vectorsearchutil_spark.operators.dedup import connected_components

    # 8M edges / 4M nodes in ~1.3M small components (forced
    # distributed path — above the 2M _CC_DRIVER_MAX_EDGES gate)
    pairs = spark.range(8_000_000).selectExpr(
        "pmod(xxhash64(id, 1), 4000000) AS id_a",
        "pmod(xxhash64(id, 2), 4000000) AS id_b",
    ).where("id_a != id_b").cache()
    pairs.count()
    t0 = time.time()
    n = connected_components(pairs).count()
    dt = time.time() - t0
    pairs.unpersist()
    return f"{dt:.1f}s @ 8M edges / 4M nodes -> {n} labelled nodes (distributed path)"


def probe_semdedup_100x(spark):
    from vectorsearchutil_spark.operators.similarity import semdedup

    emb = spark.range(500_000).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 64), j -> pmod(xxhash64(id, j), 1000)"
        " / 1000.0) AS embedding",
    ).cache()
    emb.count()
    t0 = time.time()
    semdedup(emb, k=32, iterations=2, threshold=0.95).count()
    dt = time.time() - t0
    emb.unpersist()
    return f"{dt:.1f}s @ 500k x 64-dim, k=32 (25x: 8.7s @ 125k)"


PROBES.update(
    {
        "fuzzy_pairs_100x": probe_fuzzy_pairs_100x,
        "pagerank_100x": probe_pagerank_100x,
        "duplicate_spans_100x": probe_duplicate_spans_100x,
        "connected_components_100x": probe_connected_components_100x,
        "semdedup_100x": probe_semdedup_100x,
    }
)




# -- wave 3: a third point on the scaling curve (400x = 16x the 25x
# suite) for the signature linear/sublinear families ----------------

def probe_weighted_median_400x(spark):
    li = spark.range(240_000_000).selectExpr(
        "id AS l_orderkey",
        "cast(pmod(id, 7) AS INT) AS l_linenumber",
        "cast(1 + pmod(xxhash64(id, 3), 50) AS DOUBLE) AS l_quantity",
        "pmod(xxhash64(id, 5), 9000000) / 100.0 + 900.0"
        " AS l_extendedprice",
        "element_at(array('A','N','R'),"
        " cast(pmod(xxhash64(id, 7), 3) AS INT) + 1) AS l_returnflag",
    )
    dt, n = _probe_query(
        spark, "lineitem_weighted_median", "lineitem", li
    )
    return f"{dt:.1f}s @ 240M lines -> {n} groups (100x: 14.7s @ 60M)"


def probe_token_budget_400x(spark):
    from vectorsearchutil_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = spark.range(40_000_000).selectExpr(
        "id AS doc_id",
        "concat('s', pmod(xxhash64(id, 3), 2)) AS source",
        "repeat('w ', 20 + cast(pmod(xxhash64(id, 5), 200) AS INT))"
        " AS text",
    ).cache()
    docs.count()  # same warm-cache discipline as the 100x probe
    t0 = time.time()
    n = token_budget_sample(
        docs, {"s0": 160_000_000, "s1": 100_000_000}, seed="tb400"
    ).count()
    dt = time.time() - t0
    return f"{dt:.1f}s @ 40M docs / 2 sources -> {n} admitted (100x: 16.3s @ 10M)"


def probe_mad_400x(spark):
    e = spark.range(40_000_000).selectExpr(
        "id AS event_id",
        "concat('t', pmod(xxhash64(id, 7), 5)) AS event_type",
        "pmod(xxhash64(id, 13), 1000000) / 100.0 AS value",
    )
    dt, n = _probe_query(spark, "events_value_mad_outliers", "events", e)
    return f"{dt:.1f}s @ 40M events -> {n} outliers (100x: 10.9s @ 10M)"


PROBES.update(
    {
        "weighted_median_400x": probe_weighted_median_400x,
        "token_budget_400x": probe_token_budget_400x,
        "mad_400x": probe_mad_400x,
    }
)

def probe_ngram_jaccard_100x(spark):
    from vectorsearchutil_spark.operators.dedup import ngram_jaccard_pairs

    docs = _varied_docs(spark, N_DOCS).cache()
    docs.count()
    t0 = time.time()
    n = ngram_jaccard_pairs(docs).count()
    dt = time.time() - t0
    docs.unpersist()
    return (
        f"{dt:.1f}s @ 500k varied docs -> {n} pairs"
        " (inverted-index build + max_df-capped join cost)"
    )


PROBES.update({"ngram_jaccard_100x": probe_ngram_jaccard_100x})



if __name__ == "__main__":
    main()
