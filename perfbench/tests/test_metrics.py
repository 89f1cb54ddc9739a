import json
import os

import pytest

from perfbench.metrics import END_TO_END, NAME_RE, PER_LAYER, UNIT_RE, result_line

BENCHMARK_JSON = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


@pytest.mark.parametrize("name,unit", [*((k, u) for k, (u, _) in END_TO_END.items()),
                                       *PER_LAYER.items()])
def test_every_metric_name_and_unit_is_well_formed(name, unit):
    assert NAME_RE.match(name), name
    assert UNIT_RE.match(unit), unit


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_prints_every_metric_with_its_unit(trace):
    names = PER_LAYER if trace else END_TO_END
    line = json.loads(json.dumps(result_line(True, 3, 0, {k: 1.5 for k in names}, trace)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(names)
    for m in line["metrics"].values():
        assert set(m) == {"value", "unit"} and UNIT_RE.match(m["unit"])


def test_result_line_refuses_a_missing_metric():
    with pytest.raises(KeyError):
        result_line(True, 1, 0, {"setup_s": 1.0}, trace=False)


def test_benchmark_json_declares_exactly_the_printed_metrics():
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
