"""Rotation hygiene: the driver's correctness sweep checks only the FIRST 50
registry keys in alphabetical order (see registry.py), so rounds rotate
already-evidenced keys behind sort prefixes — since round 6 an explicit
evidence-age queue of three tiers (``z_`` = DUE/oldest evidence, ``zz_`` =
NEXT, ``zzz_`` = PARKED/just-evidenced; "_" < "z" makes the tiers sort in
that order), so the window always re-checks the OLDEST-evidenced cohort,
not the one just checked. These tests make that rotation mechanical — a
rename can never again break a test (the r04 lesson: commit b8197f3
renamed docx_ingest -> z_docx_ingest and left tests/test_deploy.py
indexing the old name) and the window invariant the rotation exists to
maintain stays machine-checked.
"""

from __future__ import annotations

import os
import re

import pytest

from unfccc_documents_database_sandbox_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.join(REPO, "tests")


@pytest.fixture(scope="module", autouse=True)
def _plans_loaded():
    registry.load_all_plans()


def _source_files():
    yield os.path.join(REPO, "bench.py")
    yield os.path.join(REPO, "__spark_entry__.py")
    for fn in sorted(os.listdir(TESTS)):
        if fn.endswith(".py"):
            yield os.path.join(TESTS, fn)


# String literals passed to lookup(...) anywhere, plus dict-style indexing of
# the public queries() mapping (qs[...] / queries()[...]), which is exactly the
# pattern that broke in r04.
_LOOKUP_RE = re.compile(r"""lookup\(\s*["']([A-Za-z0-9_]+)["']\s*\)""")
_INDEX_RE = re.compile(r"""(?:\bqs|queries\(\))\[\s*["']([A-Za-z0-9_]+)["']\s*\]""")


def test_every_referenced_key_resolves():
    """Every registry key named in tests/, bench.py, or __spark_entry__.py
    must resolve through lookup() under BOTH spellings — so rotating a key
    (adding/removing the z_ prefix) can never orphan a reference."""
    referenced: dict[str, list[str]] = {}
    for path in _source_files():
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        for m in (*_LOOKUP_RE.finditer(src), *_INDEX_RE.finditer(src)):
            referenced.setdefault(m.group(1), []).append(os.path.basename(path))
    assert referenced, "scanner matched nothing — regexes are broken"
    missing = {
        name: where
        for name, where in referenced.items()
        if not any(
            k in registry.REGISTRY
            for k in (name, f"z_{name}", f"zz_{name}", f"zzz_{name}")
        )
    }
    assert not missing, f"unresolvable registry keys referenced: {missing}"


def test_no_raw_public_name_indexing_in_tests():
    """Tests must resolve keys via registry.lookup(), never by indexing the
    public queries() dict with a literal — public names move on rotation."""
    offenders = []
    for path in _source_files():
        if os.path.basename(path) in ("bench.py", "__spark_entry__.py"):
            continue  # bench resolves via lookup(); entry module IS the dict
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                if _INDEX_RE.search(line):
                    offenders.append(f"{os.path.basename(path)}:{lineno}")
    assert not offenders, f"raw queries()[...] indexing (use lookup()): {offenders}"


def _rotated(key: str) -> bool:
    return key.startswith(("z_", "zz_", "zzz_"))


def test_rotated_set_is_consistent():
    """Every rotated name is in exactly ONE tier and registered exactly once,
    under the spelling its tier dictates (z_ DUE / zz_ NEXT / zzz_ PARKED)."""
    tiers = {
        "z_": registry.ROTATED_DUE,
        "zz_": registry.ROTATED_NEXT,
        "zzz_": registry.ROTATED_PARKED,
    }
    for prefix, tier in tiers.items():
        for name in tier:
            others = [
                p for p, t in tiers.items() if p != prefix and name in t
            ]
            assert not others, f"{name} in multiple tiers: {prefix}, {others}"
            assert f"{prefix}{name}" in registry.REGISTRY, (
                f"{prefix}{name} not registered"
            )
            for wrong in set(tiers) - {prefix}:
                assert f"{wrong}{name}" not in registry.REGISTRY, (
                    f"{name} registered under wrong tier {wrong}"
                )
            assert name not in registry.REGISTRY, (
                f"{name} registered un-rotated too"
            )
    # and lookup() resolves the original spelling to the same spec
    for tier in tiers.values():
        for name in tier:
            pub = registry.public_name(name)
            assert registry.lookup(name) is registry.lookup(pub)


def test_tiers_sort_in_evidence_age_order():
    """The tiers exist solely to sort DUE < NEXT < PARKED so the window
    reaches the oldest-evidenced cohort first; pin the lexicographic fact."""
    zs = [k for k in registry.REGISTRY if k.startswith("z_")]
    zzs = [k for k in registry.REGISTRY if k.startswith("zz_")]
    zzzs = [k for k in registry.REGISTRY if k.startswith("zzz_")]
    assert zs and zzs and zzzs, "all three rotation tiers should be populated"
    assert max(zs) < min(zzs) < max(zzs) < min(zzzs)


def test_window_reaches_every_due_key():
    """The point of the DUE tier: every z_ key (oldest evidence on file)
    must sort inside the 50-key driver window this round — otherwise the
    promotion into DUE was oversized vs the new-key count."""
    keys = sorted(registry.REGISTRY)
    window = set(keys[:50])
    stranded = [
        k for k in keys
        if k.startswith("z_") and not k.startswith(("zz_", "zzz_"))
        and k not in window
    ]
    assert not stranded, f"DUE keys outside the 50-key window: {stranded}"


def test_driver_window_contains_all_unrotated_keys():
    """The invariant the rotation maintains: every un-rotated key sorts
    inside the 50-key driver window — an un-rotated key outside the
    window would never receive a driver correctness row, silently."""
    keys = sorted(registry.REGISTRY)
    window = set(keys[:50])
    stranded = [k for k in keys if not _rotated(k) and k not in window]
    assert not stranded, f"un-rotated keys outside the 50-key window: {stranded}"


def test_window_has_room_for_new_keys():
    """A new (never-evidenced) key registers un-prefixed and must land inside
    the window; that only works while non-z keys number well under 50."""
    nonz = [k for k in sorted(registry.REGISTRY) if not _rotated(k)]
    assert len(nonz) <= 50, f"{len(nonz)} un-rotated keys cannot all be checked"


def test_plans_doc_in_lockstep_with_bench_and_round_keys():
    """VERDICT r07 #1: PLANS.md staleness must be structurally impossible —
    every key gen_plans.py is configured to cover (scan_full + bench
    headline + extended + the current round's ROUND_KEYS) must have a
    `## <key>` section in the committed PLANS.md. A new bench/round key
    without a regenerated PLANS.md fails here until `python gen_plans.py`
    is re-run."""
    import bench
    import gen_plans

    with open(os.path.join(REPO, "PLANS.md"), encoding="utf-8") as fh:
        sections = {
            line[3:].strip()
            for line in fh
            if line.startswith("## ")
        }
    expected = {"scan_full", *bench.HEADLINE, *bench.EXTENDED, *gen_plans.ROUND_KEYS}
    missing = sorted(expected - sections)
    assert not missing, (
        f"PLANS.md is stale — run `python gen_plans.py`; missing sections: {missing}"
    )


def test_readme_counts_match_registry():
    """VERDICT r10 #8 (the fourth stale-count round): the README's
    headline registry counts are now MACHINE-CHECKED against the live
    registry, so a post-edit count sweep can never be forgotten again.
    The README must contain the literal phrase
    '<N> registered queries, <M> with an exact DuckDB oracle' where N
    and M are the real numbers."""
    n = len(registry.REGISTRY)
    m = sum(1 for s in registry.REGISTRY.values() if s.oracle)
    with open(os.path.join(REPO, "README.md"), encoding="utf-8") as fh:
        readme = fh.read()
    want = f"{n} registered queries, {m} with an exact DuckDB oracle"
    assert want in readme, (
        f"README headline counts are stale — expected {want!r}; "
        "update the 'Operator coverage' intro after registry edits"
    )
