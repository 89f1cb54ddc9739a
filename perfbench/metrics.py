"""Every metric the benchmark prints, with its unit.

End-to-end metrics are printed by untraced runs of every workload and are
never zero. Per-layer metrics are printed by traced runs of every
workload; a layer a workload does not exercise reads 0, which is the
prediction that workload makes for it.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

CURATION_KEYS = (
    "corpus_curation_v2", "dedup_fuzzy_minhash", "dedup_containment", "dedup_components",
)
REQUEST_TYPES = ("doc_lookup", "ivf_search", "exact_search", "sql_join")

# name -> (unit, better)
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
}


def _per_layer() -> dict[str, str]:
    m = {
        "session.start_s": "s",
        "session.first_pass_s": "s",
        "session.warmup_passes": "count",
        "session.warmup_settled": "count",
        "catalog.load_table_ms": "ms",
        "catalog.persisted_rdds_after_pass": "count",
        "catalog.storage_mb_after_pass": "MB",
        "mem.peak_rss_mb": "MB",
        "exec.core_s_per_kitem": "s",
    }
    for k in CURATION_KEYS:
        for field, unit in (
            ("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"),
            ("exec_jobs", "count"), ("task_s", "s"), ("gc_s", "s"),
            ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("tasks", "count"),
            ("rows", "count"),
        ):
            m[f"plans.{k}.{field}"] = unit
    m["operators.assembly.s"] = "s"
    for t in REQUEST_TYPES:
        m[f"analyst.{t}.p50_ms"] = "ms"
        m[f"analyst.{t}.plan_ms"] = "ms"
        m[f"analyst.{t}.jobs"] = "count"
    m.update({
        "analyst.requests": "count",
        "analyst.query_p50_ms": "ms",
        "analyst.query_p90_ms": "ms",
        "analyst.core_s_per_query": "s",
        "llm.stage_s": "s",
        "llm.requests_per_doc": "ratio",
        "llm.retries_per_doc": "ratio",
        "llm.useful_request_frac": "ratio",
        "llm.connections_per_request": "ratio",
        "llm.inflight_mean": "count",
        "llm.inflight_max": "count",
        "llm.python_workers": "count",
        "llm.usd_per_kdoc": "USD",
        "observe.blocks_rows": "count",
        "observe.prompts_rows": "count",
        "observe.summaries_rows": "count",
        "sink.csv_s": "s",
        "sink.parquet_s": "s",
        "exec.jobs_per_op": "count",
        "exec.task_s_per_op": "s",
        "exec.gc_s_per_op": "s",
        "exec.shuffle_mb_per_op": "MB",
        "exec.driver_gap_s_per_op": "s",
        "host.other_busy_frac": "ratio",
        "host.loadavg_1m": "count",
        "trace.overhead_frac": "ratio",
        "failed_frac": "ratio",
    })
    return m


PER_LAYER: dict[str, str] = _per_layer()


def result_line(correct: bool, attempted: int, failed: int, values: dict[str, float],
                trace: bool) -> dict:
    """The final JSON object: every metric of the run's kind, with unit."""
    units = PER_LAYER if trace else {k: u for k, (u, _) in END_TO_END.items()}
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
