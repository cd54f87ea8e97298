"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Each query is executed to completion (collect of an already-reduced
result, or count for wide row-level outputs — never a full driver-side
materialization of a big result) and timed wall-clock. A warmup query
first so JVM/codegen startup isn't attributed to the first headline.

Noise hardening (r13, after two rounds of tenant-load whipsaw in the
official artifact): each query runs SPARK_GRAFT_BENCH_RUNS times
(default 3) and the artifact records the per-query MEDIAN — one
slow-tenant spike can no longer move a query's number — plus the
host's 1/5/15-minute load averages at start and end so the next
reader can adjudicate residual inflation without re-deriving it.
``common_prev`` compares medians to the previous artifact's numbers
(single-run for r12 and earlier — the r13 artifact is the calibration
break, recorded in NOTES.md). ``host_calib_start``/``_end`` carry
fixed-work host-speed probes (see _host_calibration) so two
artifacts' numbers can be compared net of host drift."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# name → action ('collect' for small reduced outputs, 'count' otherwise)
HEADLINE: dict[str, str] = {
    "q_agg_hash": "collect",
    "q_join_shuffle": "collect",
    "q_join_broadcast": "collect",
    "q_join_outer": "count",
    "q_join_asof": "count",
    "q_agg_rollup_cube": "collect",
    "q_window_rank": "count",
    "q_window_analytic": "count",
    "q_topk": "collect",
    "q_filter_project": "count",
    "q_scalar_string_date_math": "count",
    "q_scalar_array_map_json": "count",
    "q_agg_percentile": "collect",
    "q_pivot": "collect",
    "q_join_range": "count",
    "q_window_tumbling": "count",
    "q_window_session": "count",
    "q_text_stats": "collect",
    "q_dedup_exact": "count",
    "q_dedup_minhash": "count",
    "q_dedup_simhash": "count",
    "q_dedup_ngram": "count",
    "q_sim_topk": "count",
    "q_sim_ann": "count",
    "q_udf_module": "count",
    "q_agg_stats": "collect",
    "q_anomaly_zscore": "count",
    "q_funnel": "collect",
    "q_incr_agg": "collect",
    "q_pipeline_curate": "collect",
    # heavy LLM/iterative paths (added r2): regressions in the LSH /
    # iterative-join machinery must be visible round-over-round
    "q_dedup_components": "count",
    "q_dedup_incremental": "count",
    "q_sim_ivf": "count",
    "q_collocations": "count",
    "q_pack_shards": "count",
    "q_agg_percentile_approx": "collect",
    "q_dedup_segments": "count",
    # r2 additions: iterative graph, runtime-filter join, rule pack,
    # recursive CTE, curation mix — the new hot paths
    "q_pagerank": "collect",
    "q_join_bloom": "count",
    "q_quality_gopher": "count",
    "q_recursive_cte": "count",
    "q_sample_mix": "count",
    # r4 additions: composable sketch set algebra, native HLL rollup,
    # encoding + entropy text gates
    "q_theta_setops": "collect",
    "q_agg_hll_sketch": "collect",
    "q_text_encoding": "count",
    "q_text_entropy": "count",
    # r5 additions: real WAV decode through mapInPandas, CDC write +
    # pruned DataSource read-back, KLL sketch build/merge path
    "q_multimodal_decode": "count",
    "q_cdc_read_pruned": "count",
    "q_agg_kll": "collect",
    # r6 additions: t-digest sketch, PQ compressed-domain ANN, the
    # gaps-and-islands window family, degree-ordered triangle join,
    # one-pass spectral Gram build, the 6-table SQL-surface snowflake
    "q_agg_tdigest": "collect",
    "q_sim_pq": "count",
    "q_gaps_islands": "count",
    "q_graph_triangles": "count",
    "q_embed_pca": "count",
    "q_sql_local_supplier_volume": "collect",
    # r6 continuation: frontier-pruned weighted SSSP, time-travel
    # snapshot diff over the CDC DataSource (build stamp-cached in
    # warmup), fixed-point EWMA window, and the Q7 nation self-join
    "q_graph_sssp": "count",
    "q_snapshot_diff": "count",
    "q_window_ewma": "count",
    "q_sql_volume_shipping": "collect",
    # r6 third block: Arrow MaxSim kernel, 24x presence fan-out
    # distinct, cell-join spatial pruning, basket self-join mining
    "q_sim_maxsim": "count",
    "q_rolling_distinct": "count",
    "q_join_spatial_grid": "count",
    "q_basket_rules": "collect",
    # r7 additions: scan-bound conditional aggregates (Q6/Q14 shapes),
    # exact discrete percentiles, cell-level density convolution,
    # removal-effect attribution
    "q_sql_forecast_revenue": "collect",
    "q_sql_promo_share": "collect",
    "q_agg_percentile_disc": "collect",
    "q_join_grid_density": "collect",
    "q_attribution_removal": "collect",
    "q_agg_corr": "collect",
    "q_anomaly_mad": "count",
    "q_seq_trigrams": "collect",
    "q_pareto_share": "count",
    "q_time_weighted_avg": "count",
    "q_rfm_segments": "count",
    "q_sql_top_supplier": "collect",
    "q_dedup_prefix": "count",
    "q_funnel_windowed": "count",
    # r8 additions: the remaining classic TPC-H shapes (Q2 min-cost
    # decorrelation, Q11 share-of-total HAVING, Q16 excluded-set
    # distinct count, Q20 nested semi chain) + one-pass sampled agg
    "q_sql_min_cost_supplier": "collect",
    "q_sql_important_stock": "collect",
    "q_sql_parts_supplier_count": "collect",
    "q_sql_potential_promotion": "collect",
    "q_agg_sampled": "collect",
    # r9 additions: the last classic TPC-H shapes (Q4 EXISTS semi,
    # Q12 conditional two-way count, Q13 outer-join distribution,
    # Q17 decorrelated 20%-of-avg, Q19 disjunctive broadcast, Q21
    # windowed multi-EXISTS, Q22 scalar-broadcast + anti)
    "q_sql_order_priority": "collect",
    "q_sql_late_lines": "collect",
    "q_sql_customer_distribution": "collect",
    "q_sql_small_qty_revenue": "collect",
    "q_sql_discounted_revenue": "collect",
    "q_sql_waiting_suppliers": "collect",
    "q_sql_sales_opportunity": "collect",
    # r10 additions: Q8 7-table snowflake share, the integer-exact
    # TF-IDF topk and bigram-LM scoring paths (explode + broadcast
    # model tables + window cut)
    "q_sql_market_share": "collect",
    "q_tfidf": "count",
    "q_lm_score": "count",
    # r11 additions: the registered banked operators (containment /
    # exact spans / winnowing — the three inverted-index dedup
    # shapes; k-NN labeling over the broadcast-queries cosine path;
    # Misra-Gries counter-shuffle; HRW argmax) + LATERAL top-n and
    # the vocab-broadcast OOV scorer. Streaming replays (leaderboard,
    # full outer) stay out of the headline set by design; q_scan_xml
    # is excluded for its first-run fixture write.
    "q_dedup_containment": "count",
    "q_dedup_spans": "count",
    "q_fingerprint_winnow": "count",
    "q_knn_label": "count",
    "q_heavy_hitters_mg": "collect",
    "q_shard_rendezvous": "count",
    "q_lateral_topk": "collect",
    "q_oov_rate": "count",
    # r12 additions: the registered banked operators — LSH-bucketed
    # kNN labeling (the scale path for the corpus-proportional
    # split), rare-gram edit-distance blocking, BPE train (8
    # vocabulary-grain rounds) + the zero-exchange encode pass, the
    # LATERAL UDTF fan-out, and VARIANT typed extraction
    "q_knn_label_ann": "count",
    "q_dedup_edit": "count",
    "q_bpe_train": "collect",
    "q_bpe_tokens": "count",
    "q_udtf_runs": "count",
    "q_json_variant": "count",
    # late-r12 registrations (the former r13 bank, pulled forward):
    # distributed two-phase sequence packing and SemDeDup clustering
    # (re-registered r13 on the two-level corpus-proportional trainer)
    "q_pack_sequences": "count",
    "q_dedup_semantic": "count",
    # r13 additions: group-grain leakage-safe split (map-side), the
    # tokenizer-sizing coverage curve (corpus-grain gram aggregate),
    # integer-exact BM25 retrieval, and first-occurrence novelty
    "q_split_group": "count",
    "q_vocab_coverage": "collect",
    "q_bm25_topk": "collect",
    "q_ngram_novelty": "count",
    # late-r13: incremental semantic dedup (new batch vs corpus-
    # trained quantizer — the embedding-space ingest path)
    "q_dedup_semantic_incr": "count",
}


def _common_prev(timings: dict[str, float]) -> dict | None:
    """Like-for-like subtotal vs the LATEST committed BENCH_r{N}.json:
    the sum of this run's timings restricted to the queries the
    previous round also timed, next to the previous round's sum over
    the same subset — so a growing headline set can't masquerade as a
    regression (or hide one). Carried in the artifact itself per the
    r6 verdict (#7), not just in NOTES.md."""
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for p in os.listdir(root):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", p)
        if m:
            rounds.append((int(m.group(1)), p))
    if not rounds:
        return None
    rnd, path = max(rounds)
    try:
        with open(os.path.join(root, path)) as fh:
            doc = json.load(fh)
        # driver artifacts wrap the bench line under "parsed"
        prev = (doc.get("queries")
                or (doc.get("parsed") or {}).get("queries") or {})
        if not prev and isinstance(doc.get("tail"), str):
            # the driver's bounded tail capture can truncate the HEAD
            # of the (single, long) full line, nulling "parsed" — the
            # r7 artifact's failure mode. The per-query pairs still
            # sit in the tail text: recover them by pattern. Drop the
            # final pair when the capture is also cut at the END (its
            # value digits may be truncated mid-number).
            pairs = re.findall(r'"(q_[a-z0-9_]+)":\s*([0-9.]+)',
                               doc["tail"])
            if pairs and not doc["tail"].rstrip().endswith("}"):
                pairs = pairs[:-1]
            prev = {k: float(v) for k, v in pairs}
    except (OSError, ValueError):
        return None
    common = sorted(set(prev) & set(timings))
    if not common:
        return None
    cur = round(sum(timings[q] for q in common), 3)
    old = round(sum(prev[q] for q in common), 3)
    return {"vs_round": rnd, "n_queries": len(common),
            "value": cur, "prev_value": old,
            "ratio": round(cur / old, 3) if old else None}


def _host_calibration(spark) -> dict[str, float]:
    """FIXED-WORK host-speed probes (r13 optimization round): the load
    averages added earlier are VM-local and blind to hypervisor-level
    CPU steal — this sandbox measured identical back-to-back query
    runs swinging 1.3 s ↔ 21 s with load < 1. Each probe does the
    exact same work every invocation, so the ratio between two
    artifacts' calib numbers estimates the host-speed ratio between
    their runs, letting a reader separate engine change from host
    drift without re-deriving it. Three axes (median of 3):
    single-core Python, all-core JVM compute, and one small shuffle
    (exchange machinery). Total cost ~5 s — outside the timed region.
    Known side effect (r13 ADVICE): the start probe runs Spark jobs
    (a 100M-row scan, one small shuffle) BEFORE the timed loop, extra
    JVM/codegen warm-up that pre-r13 artifacts' first timed queries
    never got — bounded by the bench's own warmup block (which
    already runs a full query + touches every table), but recorded
    here as part of the r13 calibration break rather than claimed as
    'adds artifact keys only'."""
    def _med3(fn) -> float:
        ts = []
        for _ in range(3):
            t0 = time.time()
            fn()
            ts.append(time.time() - t0)
        return round(sorted(ts)[1], 3)

    def _py():
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        return acc

    def _jvm():
        spark.range(100_000_000).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s").collect()

    def _shuffle():
        spark.range(1_000_000).selectExpr("id % 1009 AS k") \
            .groupBy("k").count().collect()

    return {"py_1core_sec": _med3(_py),
            "jvm_allcore_sec": _med3(_jvm),
            "shuffle_sec": _med3(_shuffle)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from gasket_spark.queries import QUERIES
    from gasket_spark.session import get_spark

    spark = get_spark("gasket-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: trigger codegen/Python-worker startup once and touch every
    # input table so timings measure query compute, not first-read I/O
    QUERIES["q_agg_hash"](spark, sf_dir).collect()
    from gasket_spark.io import TABLES, read_table
    for t in TABLES:
        read_table(spark, sf_dir, t).count()
    # materialize the stamp-cached CDC table (a 4-micro-batch streaming
    # MERGE) during warmup, so the timed q_cdc_read_pruned row measures
    # the pruned DataSource READ — the write path is benched separately
    # by the streaming suite, not conflated into a scan number
    QUERIES["q_cdc_read_pruned"](spark, sf_dir).count()
    QUERIES["q_snapshot_diff"](spark, sf_dir).count()

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    load_start = os.getloadavg()
    calib_start = _host_calibration(spark)
    # Queries that consult ANY process-level stamp cache: run ONCE and
    # record run 1 — the same cold semantics every pre-r13 single-run
    # artifact carried. The r13 round exempted only the two
    # result-checkpointing caches; the r13 verdict's audit showed the
    # median-of-3 rode EVERY cross-run cache (a memoised result is a
    # ~50 ms lookup, a persisted intermediate a warm fraction of the
    # query), so runs 2-3 measured cache hits, not query cost. r14
    # extends the set to every cache-consulting headline query:
    # results (_PAIR_CACHE pairs for ngram/components,
    # _PREFIX_PAIR_CACHE, _BPE_MERGE_CACHE for bpe_train/tokens),
    # plan-persist intermediates (_plan_persist_cached: theta, collocations,
    # containment, winnow, edit, semantic, semantic_incr), and the
    # graph _EDGE_CACHE consumers (triangles, sssp). Within one bench
    # invocation later queries still see earlier queries' caches
    # (components after ngram, tokens after train) — exactly the
    # pre-r13 single-run ordering semantics.
    cold_only = {
        "q_dedup_ngram", "q_dedup_prefix", "q_dedup_components",
        "q_bpe_train", "q_bpe_tokens",
        "q_theta_setops", "q_collocations", "q_dedup_containment",
        "q_fingerprint_winnow",
        "q_dedup_edit", "q_dedup_semantic", "q_dedup_semantic_incr",
        "q_graph_triangles", "q_graph_sssp",
    }
    timings: dict[str, float] = {}
    for name, action in HEADLINE.items():
        if name not in QUERIES:
            continue
        ts = []
        for _ in range(1 if name in cold_only else runs):
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            if action == "collect":
                df.collect()
            else:
                df.count()
            ts.append(time.time() - t0)
        # median (lower median for even run counts): robust to one
        # slow-tenant spike, unlike mean; still honest about steady
        # state, unlike min
        timings[name] = round(sorted(ts)[(len(ts) - 1) // 2], 3)

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "runs_per_query": runs,
        "agg": "median",
        "cold_only": sorted(cold_only & set(timings)),
        "load_avg_start": [round(x, 2) for x in load_start],
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
        "host_calib_start": calib_start,
        "host_calib_end": _host_calibration(spark),
    }
    cp = _common_prev(timings)
    if cp is not None:
        out["common_prev"] = cp
    # the summary goes out TWICE: the full per-query line first, then
    # a FINAL line sized to the driver's bounded tail capture — the
    # capture keeps the LAST ~2000 characters of stdout, so a final
    # line longer than that loses its head and fails to parse (the r7
    # artifact's failure mode). The r13 verdict asked for per-query
    # timings and the host calibration in the final line (PERF_r13's
    # per_query/scaling blocks were empty because the short line
    # carried neither); all 113 query names alone exceed the capture
    # window, so the final line carries the timings dict compacted
    # (no JSON whitespace) and truncated to the HEAVIEST queries that
    # fit, with queries_omitted counting the dropped sub-second tail.
    # The first (full) line remains the complete record.
    print(json.dumps(out))
    short = {"metric": out["metric"], "value": out["value"],
             "unit": "sec", "sf": out["sf"],
             "n_queries": len(timings), "runs_per_query": runs,
             "agg": "median",
             "load_avg_end": out["load_avg_end"],
             "host_calib_start": out["host_calib_start"],
             "host_calib_end": out["host_calib_end"]}
    if cp is not None:
        short["common_prev"] = cp
    budget = 1900  # tail capture is 2000 chars; leave newline slack
    fixed = len(json.dumps({**short, "queries": {},
                            "queries_omitted": len(timings)},
                           separators=(",", ":")))
    qline: dict[str, float] = {}
    used = fixed
    for name in sorted(timings, key=timings.get, reverse=True):
        cost = len(json.dumps({name: timings[name]},
                              separators=(",", ":"))) - 1
        if used + cost > budget:
            break
        qline[name] = timings[name]
        used += cost
    short["queries"] = qline
    short["queries_omitted"] = len(timings) - len(qline)
    print(json.dumps(short, separators=(",", ":")))


if __name__ == "__main__":
    main()
