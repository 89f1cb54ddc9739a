"""Bench final-line contract (VERDICT r17 #1).

The external driver parses the LAST stdout line of bench.py and keeps only
the final 2000 chars of stdout. For the driver's per-query comparison to
work, that line must carry ONE combined "queries" map with a STABLE key
set: every headline key, every fresh key, and the identity-pinned
_ITEMIZED_EXTENDED list — never a fold keyed on the current run's timings
(the r16/r17 failure: PERF per_query was empty both rounds and improved
keys dropped out of the comparable set because they got fast).
"""

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def _groups():
    headline = {k: 1.234 for k in bench.HEADLINE}
    ext = {k: 1.234 for k in dict.fromkeys(bench.EXTENDED)}
    fresh = {k: 1.234 for k in bench.FRESH}
    return headline, ext, fresh


def _totals():
    return {
        "metric": "headline_queries_total_wall",
        "value": 999.999,
        "unit": "sec",
        "sf": 0.1,
        "headline_best": 999.999,
        "headline_median": 999.999,
        "extended_best": 999.999,
        "extended_median": 999.999,
        "fresh_best": 999.999,
        "fresh_median": 999.999,
    }


def test_itemized_extended_is_subset_of_extended():
    missing = [k for k in bench._ITEMIZED_EXTENDED if k not in bench.EXTENDED]
    assert not missing, f"_ITEMIZED_EXTENDED keys not in EXTENDED: {missing}"


def test_final_line_fits_tail_and_carries_all_contract_keys():
    headline, ext, fresh = _groups()
    line = bench._final_line(_totals(), headline, ext, fresh)
    assert len(line) <= bench._TAIL_BUDGET <= 1995
    parsed = json.loads(line)
    for field in ("metric", "value", "unit", "sf", "queries"):
        assert field in parsed, f"driver contract field missing: {field}"
    q = parsed["queries"]
    # the r01 "queries" contract: entries may be added, never removed
    for k in bench.HEADLINE:
        assert k in q, f"headline key missing from final-line queries: {k}"
    for k in bench.FRESH:
        assert k in q, f"fresh key missing from final-line queries: {k}"
    for k in bench._ITEMIZED_EXTENDED:
        assert k in q, f"pinned extended key missing at realistic widths: {k}"
    # every non-itemized extended key is accounted for in queries_rest
    rest = parsed.get("queries_rest", {"n": 0})
    n_ext_itemized = sum(1 for k in dict.fromkeys(bench.EXTENDED) if k in q)
    assert n_ext_itemized + rest["n"] == len(dict.fromkeys(bench.EXTENDED))


def test_final_line_overflow_folds_extended_only():
    """If value digits ever blow the budget, the safety loop folds only
    EXTENDED keys — headline and fresh entries must survive."""
    headline, ext, fresh = _groups()
    wide = {k: 99999.999 for k in headline}
    wide_ext = {k: 99999.999 for k in ext}
    wide_fresh = {k: 99999.999 for k in fresh}
    line = bench._final_line(_totals(), wide, wide_ext, wide_fresh)
    assert len(line) <= bench._TAIL_BUDGET
    q = json.loads(line)["queries"]
    for k in (*bench.HEADLINE, *bench.FRESH):
        assert k in q

    # the keys folded on overflow are the tail of _ITEMIZED_EXTENDED,
    # whatever the timings: ascending and descending values of one print
    # width must keep the same list prefix
    order = [k for k in bench._ITEMIZED_EXTENDED if k in ext]
    kept_sets = []
    for sign in (1, -1):
        timed = {k: 99950.0 + sign * 0.1 * i for i, k in enumerate(ext)}
        line = bench._final_line(_totals(), wide, timed, wide_fresh)
        assert len(line) <= bench._TAIL_BUDGET
        q = json.loads(line)["queries"]
        kept = [k for k in order if k in q]
        assert 0 < len(kept) < len(order), "timings must overflow the budget"
        assert kept == order[: len(kept)], "dropped keys are not the list's tail"
        kept_sets.append(kept)
    assert kept_sets[0] == kept_sets[1]
