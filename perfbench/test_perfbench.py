"""The benchmark's own checks; they need no Spark session.

Run from the root of a checkout:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import landing  # noqa: E402
from report import END_TO_END, per_layer_names  # noqa: E402
from stats import TAIL_BEYOND, halves_ratio, tail, tail_index  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)

# How far below 1 the halves ratio may fall before a run's timed phase
# counts as still warming up: the largest bound BENCHMARK.json allows.
WARM_TOLERANCE = 0.25


def _digest(path) -> dict[str, str]:
    return {f.name: hashlib.sha256(f.read_bytes()).hexdigest() for f in sorted(path.iterdir())}


def test_generator_is_byte_identical_per_seed(tmp_path):
    a = landing.generate(7, str(tmp_path / "a"))
    b = landing.generate(7, str(tmp_path / "b"))
    c = landing.generate(8, str(tmp_path / "c"))
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_generator_plants_what_it_reports(tmp_path):
    exp = landing.generate(3, str(tmp_path))
    users = json.loads(next(tmp_path.glob("users_*.json")).read_text())
    assert len(users) == exp["bronze"]["users"]
    assert len({u["id"] for u in users}) == exp["silver"]["clean_users"]
    telco = next(tmp_path.glob("Telco-*.csv")).read_bytes()
    with pytest.raises(UnicodeDecodeError):
        telco.decode("utf-8")  # the latin-1 path of the reader is exercised
    assert exp["rows"] == sum(exp["bronze"].values())


@pytest.mark.parametrize("n", [1, 2, 11, 20, 21, 22, 24, 50, 200])
def test_tail_rank_has_ten_samples_beyond(n):
    i = tail_index(n)
    if n >= 2 * TAIL_BEYOND + 1:
        assert n - 1 - i == TAIL_BEYOND  # exactly ten beyond: the highest rank
    else:
        assert i == n // 2  # no rank above the median qualifies
    t = tail([float(x) for x in range(n)])
    assert t["value"] == float(i) and t["beyond"] == n - 1 - i


def test_halves_ratio_flags_a_short_warm_up():
    flat = [1.0, 1.1, 0.9, 1.0, 1.05, 0.95, 1.0, 1.0]
    falling = [2.0, 1.8, 1.6, 1.4, 1.0, 1.0, 1.0, 1.0]
    assert halves_ratio(flat) >= 1 - WARM_TOLERANCE
    assert halves_ratio(falling) < 1 - WARM_TOLERANCE
    assert halves_ratio([1.0]) is None


def test_recorded_runs_were_warm():
    """No untraced run left in perfbench/.work was still warming up: the
    median of its timed phase's second half is not lower than the first
    half's by more than the tolerance.  A slower second half means the
    host slowed down, not that the warm-up was short, so it is allowed."""
    import glob

    ratios = []
    for path in glob.glob(os.path.join(HERE, ".work", "*-trace0.json")):
        with open(path) as fh:
            ratio = json.load(fh)["latency"]["halves_ratio"]
        if ratio is not None:
            ratios.append((os.path.basename(path), ratio))
    if not ratios:
        pytest.skip("no recorded runs; run perfbench/run.py first")
    assert [r for r in ratios if r[1] < 1 - WARM_TOLERANCE] == []


def _bound(name: str) -> float:
    return next(m["bound"] for m in BENCH["end_to_end"] if m["name"] == name)


def test_benchmark_json_matches_what_the_runs_print():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == per_layer_names()
    from workloads import WORKLOADS

    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    metrics = BENCH["end_to_end"] + BENCH["per_layer"]
    assert all(name.match(m["name"]) for m in metrics + BENCH["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    assert _bound("setup_s") == max(m["bound"] for m in BENCH["end_to_end"])


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)
    mapped = {m for entry in layers["map"] for m in entry["metrics"]}
    ops = {n for n in per_layer_names() if n.startswith("op.")}
    assert mapped | ops == set(per_layer_names())
