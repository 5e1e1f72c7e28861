import pytest

from steadiness import agreement

BENCH = {"end_to_end": [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_geomean_s", "unit": "s", "better": "lower", "bound": 0.1},
]}


def _set(setup, setup_spread, op, op_spread):
    return {"workloads": {"w": {"metrics": {
        "setup_s": {"median": setup, "spread": setup_spread},
        "op_geomean_s": {"median": op, "spread": op_spread}}}}}


@pytest.mark.parametrize("second, ok", [
    (1.05, True), (0.95, True),     # within the bound either way
    (1.2, False), (0.8, False),     # past it, worse or better
])
def test_agreement_is_two_sided(second, ok):
    a = agreement(_set(10, 0.0, 1.0, 0.01), _set(10, 0.0, second, 0.01), BENCH)
    assert a["w"]["op_geomean_s"]["ok"] is ok
    assert a["w"]["op_geomean_s"]["change"] == pytest.approx(second - 1)


def test_agreement_spread_rule_exempts_setup():
    a = agreement(_set(10, 0.5, 1.0, 0.2), _set(10, 0.5, 1.0, 0.01), BENCH)
    assert a["w"]["setup_s"]["ok"]
    assert not a["w"]["op_geomean_s"]["ok"]
