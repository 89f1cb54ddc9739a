import pytest

from perfbench.keys import base_name, resolve
from perfbench.metrics import CURATION_KEYS


def test_base_name_strips_one_rotation_prefix():
    assert base_name("z_graph_bfs") == "graph_bfs"
    assert base_name("zz_graph_bfs") == "graph_bfs"
    assert base_name("zzz_graph_bfs") == "graph_bfs"
    assert base_name("graph_bfs") == "graph_bfs"


@pytest.mark.parametrize("spelling", ["dedup_components", "z_dedup_components",
                                      "zz_dedup_components", "zzz_dedup_components"])
def test_resolve_follows_every_rotation_tier(spelling):
    keys = [spelling, "zz_dedup_components_star", "dedup_containment"]
    assert resolve("dedup_components", keys) == spelling


def test_resolve_never_matches_a_longer_base_name():
    with pytest.raises(KeyError, match="no registry key"):
        resolve("dedup_components", ["zz_dedup_components_star"])


def test_resolve_fails_on_two_spellings_of_one_base():
    with pytest.raises(KeyError, match="ambiguous"):
        resolve("dedup_components", ["z_dedup_components", "zzz_dedup_components"])


def test_curation_keys_resolve_in_the_registry():
    from unfccc_documents_database_sandbox_spark import registry

    registry.load_all_plans()
    for base in CURATION_KEYS:
        assert base_name(resolve(base, registry.REGISTRY)) == base
