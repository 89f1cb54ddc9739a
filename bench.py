#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
full JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} followed by ONE compact summary line —
the driver parses the LAST line and keeps only the last 2000 chars of
stdout, so the final line carries a single combined per-query "queries"
map (VERDICT r17 #1: the r12-r17 final line carried only
extended_queries/fresh_queries with the lightest keys folded by THIS
run's timings, so the driver's per-query comparison was empty both
rounds and keys that improved fell out of the comparable set precisely
because they got fast). The combined map itemizes every headline key,
every fresh key, and a list of extended keys pinned BY IDENTITY
(_ITEMIZED_EXTENDED) at 2-decimal precision; the remaining light
extended keys fold into "queries_rest" (full-precision per-key timings
for ALL keys stay on the first stdout line, pinned in BASELINE.md).

Each query is fully materialized through the noop sink (computes every
column; count() would let Catalyst prune the interesting work).

Methodology (r03 — recorded in the emitted JSON's "methodology" field):
cold timings on this host swing up to 3x run-to-run because they are
dominated by whole-stage-codegen compilation and JIT warm-up, not by the
plans (BASELINE.md round-2 note; r02's C1-only JIT pin traded that variance
for uniformly slower compute and made cold totals non-comparable to r01).
r03 instead runs every headline query once at sf0.01 BEFORE timing: the
generated codegen classes are identical across scale factors, so the
warm-up compiles the plans and hot JIT paths while touching 10% of the
data. Timed runs then execute at the target SF on a standard tiered-JIT
JVM: "value"/"queries" = first timed run (per-plan compile cost amortized,
data cold), "steady_value"/"steady_queries" = second timed run. The warm-up
also primes the Python worker pool once — worker fork + pandas import is
session infrastructure, not part of any query's plan.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "agg_doc_text",        # flagship: ordered per-doc assembly (1 shuffle)
    "agg_group_stats",     # TPC-H Q1-shaped grouped aggregation
    "join_bridge",         # orders ⋈ lineitem ⋈ part (broadcast dim)
    "join_child_collect",  # ordered 1:N collect (reference selectinload)
    "window_running",      # per-key running aggregates
    "topk_per_group",      # rank + filter
    "dedup_latest",        # keep-latest window dedup
    "dedup_exact",         # hash dedup on text
    "dedup_fuzzy_minhash", # minhash+LSH near-dup pipeline
    "sim_topk",            # brute-force cosine top-k
    "json_extract",        # JSON parse over events
    "text_stats",          # tokenize + quality stats
    "stream_tumbling",     # windowed event aggregation
    "udf_llm_summarize",   # mapInPandas stub-LLM stage (Arrow boundary)
    "sql_tpch_q1",         # SQL-text front-end: pricing summary scan+agg
    "sql_tpch_q3",         # SQL-text: 3-way join + agg + top-10
    "sql_tpch_q5",         # SQL-text: 6-way join with dim filters
    "sim_topk_ivf",        # IVF ANN (KMeans fit + cell-join search)
    "multimodal_frame_sample",  # binary payload → frame rows (UDTF fan-out)
]

# Second bench group (VERDICT r05 #1): operators added rounds 3-5 that the
# frozen r01 headline list never timed. Reported separately (extended_*)
# so the r01 19-query totals stay comparable round over round; a
# regression in any of these now shows up in BENCH_r{N}.json instead of
# being invisible. Streaming keys and keys whose build() writes to disk
# (source_orc, csv_roundtrip, layout_compaction_apply) are excluded —
# their wall time measures sink I/O / checkpoint setup, not the plan.
EXTENDED = [
    # the 19 TPC-H shapes not in the r01 headline trio (q1/q3/q5)
    *[f"sql_tpch_q{i}" for i in (2, 4, 6, 7, 8, 9, 10, 11, 12, 13,
                                 14, 15, 16, 17, 18, 19, 20, 21, 22)],
    # rounds 3-5 operator keys the verdict called out, plus the heavier
    # pipeline/graph/events additions
    "join_similarity_prefix",  # prefix-filtered all-pairs similarity join
    "graph_pagerank",          # fixed-iteration integer-scaled PageRank
    "dedup_lines",             # C4-style line-level dedup
    "index_inverted",          # inverted index build (zipfian terms)
    "events_sessionize",       # gap-based sessionization windows
    "events_funnel",           # ordered funnel (min-ts cascade)
    "events_retention",        # cohort retention matrix
    "corpus_pipeline",         # composed cleaning funnel w/ audit counts
    "dedup_incremental",       # delta-vs-base anti-join dedup
    "sim_topk_pq",             # product-quantization ANN (ADC scoring)
    "agg_argext_bitwise",      # max_by/min_by + bitwise agg surface
    "pack_sequences",          # training-batch sequence packing
    "merge_upsert",            # MERGE-shaped keyed upsert
    "text_keyterms",           # per-source TF-IDF-ish key terms
    "layout_compaction",       # compaction manifest planner
    # the r06 fresh group, rolled in at r07 now that BENCH_r06.json holds
    # their day-one reference (the fresh group always graduates here)
    "text_vocab", "text_tfidf", "text_chunk_sliding", "text_bpe_pairs",
    "text_bigram_cond", "agg_mode_freq", "agg_corr_exact",
    "agg_skewness_exact", "agg_decimal_money", "events_anomaly",
    "events_attribution", "scd2_history", "window_cume_distinct",
    "basket_pairs", "graph_triangles", "join_lateral", "join_null_safe",
    "dedup_embedding",
    # the r07 fresh group, rolled in at r08 (BENCH_r07.json holds their
    # day-one reference)
    "text_bpe_train", "text_bpe_encode", "sim_topk_ivfpq",
    # the r08 fresh group, rolled in at r09 (BENCH_r08.json holds their
    # day-one reference)
    "ts_gapfill", "cluster_kmeans", "sql_recursive_bom",
    "json_variant_extract", "sql_scalar_udf", "shuffle_epoch",
    "try_funcs", "udtf_python_segments", "corpus_upsample",
    # the r09 fresh group, rolled in at r10 (BENCH_r09.json holds their
    # day-one reference)
    "sample_weighted", "text_bm25", "graph_bfs", "udf_cogrouped_asof",
    # the r10 fresh group, rolled in at r11 (BENCH_r10.json holds their
    # day-one reference)
    "sketch_countmin", "sketch_bloom", "url_normalize", "ts_resample_ohlc",
    "graph_sssp_weighted", "events_top_paths", "events_rfm",
    "orders_abc_pareto", "sketch_hll_portable", "orders_gini",
    "events_dau_wau",
    # the r11 fresh group, rolled in at r12 (BENCH_r11.json holds their
    # day-one reference); udtf_polymorphic moved to the Arrow-optimized
    # UDTF serializer in r12 (VERDICT r11 #6) — same hashes, its timing
    # here IS the before/after evidence vs BENCH_r11's 3.16 s
    "udtf_polymorphic", "multimodal_audio_energy", "sketch_heavy_hitters",
    "dedup_containment", "agg_linear_trend",
    # the r12 fresh group, rolled in at r13 (BENCH_r12.json holds their
    # day-one reference)
    "sql_tpcds_q36", "sql_tpcds_q44", "sql_tpcds_q49", "sql_tpcds_q51",
    "sql_tpcds_q67", "text_unigram_train", "text_unigram_encode",
    # the r13 fresh group, rolled in at r14 (BENCH_r13.json holds their
    # day-one reference)
    "text_bpe_bytes_train", "text_bpe_bytes_encode", "udf_llm_dead_letter",
    "quality_expectations", "sql_tpcds_q34", "sql_tpcds_q42",
    "sql_tpcds_q88", "sql_tpcds_q89", "sql_tpcds_q93",
    # the r14 fresh group, rolled in at r15 (BENCH_r14.json holds their
    # day-one reference)
    "text_bpe_pretrained", "sim_near_dup_pairs", "sql_tpcds_q43",
    "sql_tpcds_q59", "sql_tpcds_q65", "sql_tpcds_q79", "sql_tpcds_q98",
    "text_unigram_score",
    # graduated r15 cohort
    "sql_tpcds_q8",
    "sql_tpcds_q14",
    "sql_tpcds_q38",
    "sql_tpcds_q71",
    "sql_tpcds_q87",
    "sim_topk_lsh_portable",
    "doc_rolling_hash",
    "multimodal_resize",
    "multimodal_audio_energy",
    "text_lang_id",
    "udf_llm_structured_retry",
    "udf_llm_prompt_cache",
    "sql_tpcds_q74",
    "sql_tpcds_q47",
    "sim_topk_ivf_portable",
    "corpus_split",
    "text_quality_classifier",
    "search_hybrid_rrf",
    "dedup_semantic",
    "sql_tpcds_q10",
    "sql_tpcds_q75",
    "sql_tpcds_q77",
    "sql_tpcds_q31",
    "corpus_curation_v2",
    "search_mmr_rerank",
    "multimodal_image_dedup",
    "multimodal_audio_dedup",
    "sql_tpcds_q95",
    "sql_agg_filter",
    "join_asof_directions",
]

# Third bench group: the CURRENT round's new keys, timed from the round
# they were born so the NEXT round's regression check has a reference
# (the r05 lesson: the headline froze at r01 and rounds 3-5 went untimed
# until VERDICT r05 #1 forced the extended group). Each round the old
# fresh cohort graduates into EXTENDED. Exclusion rule as before: keys
# whose build() writes to disk stay out (table_snapshot_read times four
# parquet commit writes, not a plan — like layout_compaction_apply and
# source_jdbc before it).
FRESH = [
    # r16 keys. Excluded by the standing disk-writing rule:
    # sim_index_persisted / sim_index_refresh rebuild commit-log tables
    # under .csv_tmp/ (their wall time measures parquet commits, not a
    # plan). The timeable r16 keys:
    "udf_llm_openai_adapter",   # chat-completions wire-format adapter
    "sql_tpcds_q6",             # correlated scalar avg threshold + HAVING
    "sql_tpcds_q32",            # correlated excess-discount, global agg
    "sql_tpcds_q92",            # q32 skeleton, window pinned in+out
    "sql_tpcds_q41",            # correlated COUNT>0 on the dim, OR preds
    "text_quality_classifier_trained",  # broadcast weight-dim head
    "multimodal_image_phash",   # integer-DCT perceptual dedup
    "text_bpe_pretrained_2k",   # 2,020-merge Arrow apply path
    # r16 second wave
    "sql_tpcds_q1",             # correlated scalar agg over an agg CTE
    "sql_tpcds_q23",            # scalar MAX over an agg CTE + IN sets
    "sql_tpcds_q39",            # integer-exact coefficient-of-variation
    "sql_tpcds_q97",            # full-outer channel membership matrix
    "text_normalize_nfc",       # cross-engine Unicode NFC gate
    "corpus_mix_temperature",   # alpha-sampling mixture audit
    "corpus_select_budget",     # token-budget histogram cutoff
    "curation_domain_filter",   # per-source rollup verdict
]

WARMUP_SF_DIR = "/root/testdata/sf0.01"

# Extended keys itemized in the FINAL stdout line's combined "queries" map,
# pinned BY IDENTITY (not by this run's timings) so the driver's
# round-over-round per-query comparison sees a STABLE key set — the r17
# lesson: folding by the current run's lightest timings silently dropped
# improved keys from the comparable intersect (VERDICT r17 #1). Selection:
# the top extended keys by worst-observed r17 best time (driver BENCH_r17
# ∪ both builder post-round samples), cut where the combined line fits the
# driver's 2000-char tail with headroom. Every headline and fresh key is
# always itemized; extended keys NOT in this list fold into
# "queries_rest" (n, total) — their per-key timings remain on the first
# stdout line. Grow this list only while the final line stays under
# _TAIL_BUDGET at worst-case value widths.
#
# Bench note, pinned so it stops being re-litigated (VERDICT r17 #6):
# udtf_polymorphic's ~3 s is DELIBERATE — the key documents the Spark 4
# polymorphic-UDTF API surface (schema derived in analyze(), pickle
# serializer), which is row-at-a-time Python by construction; the Arrow
# serializer was measured 4x SLOWER for this aggregating shape (r12,
# plans/relational.py docstring), and the 10-100x JVM twin for any fixed
# schema already exists (udtf_explode_blocks / plain groupBy). Its cost
# is the price of the API demonstration, not an unoptimized plan.
_ITEMIZED_EXTENDED = [
    "dedup_containment", "corpus_curation_v2", "join_similarity_prefix",
    "udtf_polymorphic", "graph_bfs", "graph_sssp_weighted",
    "graph_pagerank", "text_lang_id", "search_hybrid_rrf", "basket_pairs",
    "search_mmr_rerank", "graph_triangles", "dedup_embedding",
    "cluster_kmeans", "text_unigram_score", "dedup_semantic",
    "text_bpe_bytes_encode", "sql_tpcds_q95", "text_bm25",
    "text_bpe_encode", "text_unigram_encode", "sim_topk_ivf_portable",
    "sql_tpcds_q36", "sql_recursive_bom", "sql_tpcds_q14",
    "sim_topk_lsh_portable", "sql_tpcds_q65", "sql_tpch_q16",
    "multimodal_image_dedup", "text_keyterms", "sql_tpcds_q67",
    "sql_tpch_q2", "sim_topk_ivfpq", "udf_llm_structured_retry",
]

# Driver tail budget: the driver keeps the last 2000 chars of stdout and
# parses the last line from it; r12 proved 1986 chars parse fine. 1950
# leaves newline + safety headroom.
_TAIL_BUDGET = 1950


def _final_line(totals: dict, best: dict, ext_best: dict,
                fresh_best: dict) -> str:
    """Build the final stdout line: totals + ONE combined per-query map.

    Headline and fresh keys are always itemized (the r01 contract's
    "queries" map may gain entries but never lose them); extended keys
    itemize per _ITEMIZED_EXTENDED with the rest folded into
    queries_rest. A safety loop drops itemized EXTENDED keys into the
    fold, in reverse _ITEMIZED_EXTENDED order, if value digits ever push
    the line past _TAIL_BUDGET — so the surviving set never depends on
    the run's timings (headline/fresh are never dropped)."""
    itemized_ext = {
        k: round(ext_best[k], 2) for k in _ITEMIZED_EXTENDED if k in ext_best
    }
    queries = {
        **{k: round(v, 2) for k, v in best.items()},
        **itemized_ext,
        **{k: round(v, 2) for k, v in fresh_best.items()},
    }

    def _emit() -> str:
        rest = [k for k in ext_best if k not in queries]
        payload = {**totals, "queries": queries}
        if rest:
            payload["queries_rest"] = {
                "n": len(rest),
                "total": round(sum(ext_best[k] for k in rest), 2),
            }
        return json.dumps(payload, separators=(",", ":"))

    line = _emit()
    while len(line) > _TAIL_BUDGET and itemized_ext:
        drop, _ = itemized_ext.popitem()
        queries.pop(drop)
        line = _emit()
    return line


def _builders() -> dict[str, object]:
    """Resolve each headline name to its builder. Names stay the r01 ones so
    BENCH_r{N}.json lines up with BASELINE.md round over round; the registry
    key may have moved (z_ rotation) or been consolidated (window_running /
    text_stats keep dedicated bench builders with their original plans)."""
    from unfccc_documents_database_sandbox_spark.plans import textstats, windows
    from unfccc_documents_database_sandbox_spark.registry import lookup

    special = {
        "window_running": windows.window_running,
        "text_stats": textstats.text_stats,
    }
    return {
        name: special.get(name) or lookup(name).build
        for name in ["scan_full", *HEADLINE, *EXTENDED, *FRESH]
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
    from unfccc_documents_database_sandbox_spark.registry import load_all_plans
    from unfccc_documents_database_sandbox_spark.session import get_spark

    load_all_plans()
    builders = _builders()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # prime the Python worker pool: the first pandas-UDF stage otherwise pays
    # a one-time fork+import-pandas per worker inside whichever query happens
    # to hit Python first
    _noop(
        spark.range(0, spark.sparkContext.defaultParallelism * 4)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(lambda it: (pdf for pdf in it), "id long")
    )
    # compile every headline plan at the warm-up SF (identical codegen
    # classes, 10% of the data) so timed runs measure the plans, not javac
    warmup_dir = WARMUP_SF_DIR if sf_dir != WARMUP_SF_DIR else "/root/testdata/sf0.001"
    t_w = time.perf_counter()
    for name in ["scan_full", *HEADLINE, *EXTENDED, *FRESH]:
        _noop(builders[name](spark, warmup_dir))
    warmup_sec = round(time.perf_counter() - t_w, 3)

    # n=5 timed passes (r04 verdict #6): host-level noise swings a single
    # pass total 2-3x on identical code, so one sample is not a measurement —
    # and the r04 "regression" was exactly that, one noisy best-of-3 window.
    # The MEDIAN pass total is the round-over-round headline; best-of stays
    # for r01 comparability.
    n_passes = 5
    passes: list[dict[str, float]] = []
    for _ in range(n_passes):
        timings: dict[str, float] = {}
        for name in [*HEADLINE, *EXTENDED, *FRESH]:
            t0 = time.perf_counter()
            _noop(builders[name](spark, sf_dir))
            timings[name] = round(time.perf_counter() - t0, 3)
        passes.append(timings)

    def _group_stats(names):
        """(best-of-N, median, per-pass totals) for one query group."""
        best = {n: min(p[n] for p in passes) for n in names}
        med = {
            n: round(statistics.median(p[n] for p in passes), 3) for n in names
        }
        totals = [round(sum(p[n] for n in names), 3) for p in passes]
        return best, med, totals

    best, med, pass_totals = _group_stats(HEADLINE)
    ext_best, ext_med, ext_pass_totals = _group_stats(EXTENDED)
    fresh_best, fresh_med, fresh_pass_totals = _group_stats(FRESH)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(best.values()), 3),
                "unit": "sec",
                "queries": best,
                "median_value": round(statistics.median(pass_totals), 3),
                "median_queries": med,
                "pass_totals": pass_totals,
                "steady_value": round(sum(passes[-1][n] for n in HEADLINE), 3),
                "steady_queries": {n: passes[-1][n] for n in HEADLINE},
                "extended_value": round(sum(ext_best.values()), 3),
                "extended_queries": ext_best,
                "extended_median_value": round(
                    statistics.median(ext_pass_totals), 3
                ),
                "extended_median_queries": ext_med,
                "extended_pass_totals": ext_pass_totals,
                "fresh_value": round(sum(fresh_best.values()), 3),
                "fresh_queries": fresh_best,
                "fresh_median_value": round(
                    statistics.median(fresh_pass_totals), 3
                ),
                "fresh_median_queries": fresh_med,
                "fresh_pass_totals": fresh_pass_totals,
                "sf": float(sf) if sf else None,
                "methodology": (
                    "tiered JIT (no r02 C1 pin); all plans pre-compiled via a "
                    f"full pass at {warmup_dir} ({warmup_sec}s, untimed); "
                    f"{n_passes} timed passes at the target SF — "
                    "median_value (median of pass_totals) is the round-over-"
                    "round headline (a single pass or a best-of-3 window "
                    "swings 2-3x on host noise alone, the r04 lesson); "
                    "value/queries = per-query best-of-N kept for r01 "
                    "comparability; steady_* = last pass; extended_* = "
                    "the r06 second group (rounds 3-5 operators, same "
                    "passes, totals reported separately so the r01 "
                    "headline stays comparable; r07 graduated the r06 "
                    "fresh cohort into it); fresh_* = the current "
                    "round's keys, timed from birth"
                ),
            }
        )
    )
    # Compact summary printed LAST (VERDICT r06 #1 + r08 #7 + r17 #1):
    # the external driver parses the LAST stdout line into
    # BENCH_r{N}.json's "parsed" and keeps only the final 2000 chars as
    # "tail". ONE combined per-query "queries" map (see _final_line) —
    # the r12-r17 shape (headline-only on line -2, extended/fresh with
    # timing-dependent folding on line -1) left the driver's per-query
    # comparison empty in BOTH r16 and r17 (PERF per_query: {}).
    totals = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "sf": float(sf) if sf else None,
        "headline_best": round(sum(best.values()), 3),
        "headline_median": round(statistics.median(pass_totals), 3),
        "extended_best": round(sum(ext_best.values()), 3),
        "extended_median": round(statistics.median(ext_pass_totals), 3),
        "fresh_best": round(sum(fresh_best.values()), 3),
        "fresh_median": round(statistics.median(fresh_pass_totals), 3),
    }
    print(_final_line(totals, best, ext_best, fresh_best))
    spark.stop()


if __name__ == "__main__":
    main()
