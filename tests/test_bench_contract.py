"""Pins the bench driver contract: the HEADLINE set must stay a
SUPERSET of every key ever recorded in a past BENCH_r{N}.json — the
judge diffs per-query times across rounds, and a dropped key reads as
a hidden regression. Also pins that every headline name resolves in
the registry."""

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _recorded_keys() -> set[str]:
    keys: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "BENCH_r0*.json")):
        raw = open(path).read()
        # the driver records the bench stdout tail; per-query keys
        # appear as "name": seconds pairs inside the queries dict
        for name, _ in re.findall(r'"([a-z0-9_]+)": ([0-9.]+)', raw):
            keys.add(name)
    drop = {"metric", "value", "sf", "n", "rc", "cpus"}
    return {k for k in keys if k not in drop}


def test_headline_superset_of_recorded_keys():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    headline = set(bench.HEADLINE)
    missing = _recorded_keys() - headline
    assert missing == set(), (
        f"HEADLINE dropped previously-recorded bench keys: {missing}"
    )


def test_headline_names_resolve_in_registry():
    import importlib.util
    import sys

    sys.path.insert(0, REPO)
    from chai_data_pipeline_spark import plans

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    unknown = [n for n in bench.HEADLINE if n not in plans.QUERIES]
    assert unknown == []


def test_load_driver_rows_parses_and_skips_corrupt(tmp_path):
    """The self-refolding front derives greens/checked from the
    driver's CORRECTNESS_r*.json artifacts; a corrupt or non-dict file
    must be skipped, not crash the import."""
    import json
    import sys

    sys.path.insert(0, REPO)
    from chai_data_pipeline_spark import plans

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "green_q": {"hash_match": True, "rows_match": True},
                "red_q": {"hash_match": False, "err": "hash mismatch"},
                "rowsonly_q": {"hash_match": False, "err": "no_oracle"},
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r03.json").write_text('["a", "list"]')
    (tmp_path / "CORRECTNESS_r09.json").write_text(
        json.dumps({"green_q": {"hash_match": True}})
    )
    greens, checked, green_round = plans._load_driver_rows(str(tmp_path))
    assert greens == {"green_q"}
    assert checked == {"green_q", "red_q", "rowsonly_q"}
    # the latest green round wins (drives _FORCE_FRONT self-expiry)
    assert green_round == {"green_q": 9}
    # empty dir degrades to empty sets
    empty = tmp_path / "sub"
    empty.mkdir()
    assert plans._load_driver_rows(str(empty)) == (set(), set(), {})


def _plans():
    import sys

    sys.path.insert(0, REPO)
    from chai_data_pipeline_spark import plans

    return plans


def test_driver_rank_invariants():
    """The one ordering rule over synthetic driver rows: quota picks,
    then never-checked, then red, then the remaining greens by latest
    green round, oracle-less rows-only entries last; ties keep the
    input (registration) order."""
    plans = _plans()
    oracle = [n for n in plans.QUERIES if n in plans.ORACLES][:12]
    rows_only = [n for n in plans.QUERIES if n not in plans.ORACLES][:2]
    new, red, greens = oracle[:2], oracle[2:4], oracle[4:]
    green_round = dict(zip(greens, [1, 2, 3, 4, 5, 9, 7, 8]))
    green_round[red[0]] = 3  # green once, red in its latest round
    checked = set(red) | set(greens)
    names = rows_only[:1] + greens + red + new + rows_only[1:]

    order = plans._driver_order(names, set(greens), checked, green_round, {})
    tail = [greens[6], greens[7], greens[5]]  # rounds 7, 8, 9
    assert order == greens[:5] + new + red + tail + rows_only

    # no CORRECTNESS rows at all: registration order, rows-only last
    bare = plans._driver_order(names, set(), set(), {}, {})
    assert bare == greens + red + new + rows_only

    # the live registry: ORACLES follows the QUERIES order
    assert list(plans.ORACLES) == [
        n for n in plans.QUERIES if n in plans.ORACLES
    ]


def test_reconfirm_quota_invariants():
    """The standing re-confirm quota: the QUOTA oracle-bearing greens
    with the OLDEST green evidence rank right behind the active pins,
    ahead of never-checked work; an actively pinned green does not
    spend a quota slot, and rows-only greens never qualify."""
    plans = _plans()
    names = [n for n in plans.QUERIES if n in plans.ORACLES][:9]
    rows_only = next(n for n in plans.QUERIES if n not in plans.ORACLES)
    green_round = {n: 20 - i for i, n in enumerate(names)}  # last stalest
    green_round[rows_only] = 0
    greens = set(names) | {rows_only}
    pins = {names[-1]: 25}  # the stalest green, actively pinned

    picks = plans._reconfirm(greens, green_round, pins)
    assert len(picks) == plans._RECONFIRM_QUOTA
    assert picks == names[-2:-7:-1]  # stalest first
    ranks = [
        plans._rank(n, greens, greens, green_round, pins, picks)
        for n in [names[-1], *picks, names[0]]
    ]
    assert ranks[:-1] == [(0, i) for i in range(1 + len(picks))]
    assert ranks[-1] == (3, 20)  # a non-pick green stays at rank 3
    # fewer greens than the quota: every one is picked
    assert plans._reconfirm(set(names[:2]), green_round, {}) == [
        names[1], names[0]
    ]


def test_force_front_self_expiry():
    """A _FORCE_FRONT pin holds rank 0, in pin order, until the query
    earns a green row in a round >= its since-round; a later green
    retires it automatically (no manual cleanup). Pins name
    oracle-bearing queries only — a typo would silently do nothing."""
    plans = _plans()
    assert set(plans._FORCE_FRONT) <= set(plans.ORACLES)

    names = [n for n in plans.QUERIES if n in plans.ORACLES][:8]
    a, b = names[:2]
    pins = {b: 9, a: 9}
    greens = set(names)
    for rnd, active in ((8, True), (9, False), (10, False)):
        # six older greens fill the quota, so an expired pin falls
        # through to plain rank 3
        green_round = {n: 1 for n in names[2:]} | {a: rnd, b: rnd}
        picks = plans._reconfirm(greens, green_round, pins)
        ranks = [
            plans._rank(n, greens, greens, green_round, pins, picks)
            for n in (b, a)
        ]
        if active:
            assert ranks == [(0, 0), (0, 1)], rnd
        else:
            assert ranks == [(3, rnd), (3, rnd)], rnd
    # a pinned query with no green row at all stays pinned
    assert plans._rank(a, set(), {a}, {}, pins, []) == (0, 1)


def test_regression_reexposes_at_rank_2(tmp_path):
    """Latest-round green semantics (judge advice r8): a query green
    in round N but red in round N+1 must drop out of the green set so
    rank 2 re-exposes it — _load_driver_rows takes the LATEST checked
    round's status, not a cross-round union."""
    import json
    import sys

    sys.path.insert(0, REPO)
    from chai_data_pipeline_spark import plans

    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"q": {"hash_match": True}})
    )
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        json.dumps({"q": {"hash_match": False, "err": "hash mismatch"}})
    )
    greens, checked, green_round = plans._load_driver_rows(str(tmp_path))
    assert "q" in checked and "q" not in greens
    assert green_round == {"q": 3}
    # and a later re-green restores it
    (tmp_path / "CORRECTNESS_r06.json").write_text(
        json.dumps({"q": {"hash_match": True}})
    )
    greens2, _, gr2 = plans._load_driver_rows(str(tmp_path))
    assert "q" in greens2 and gr2 == {"q": 6}


def test_parity_selection_changed_only(monkeypatch):
    """SPARK_GRAFT_PARITY_CHANGED=1 restricts the parametrized parity
    suite to queries whose plan module changed; any shared-package
    change falls back to the full sweep; env unset is a no-op."""
    import subprocess
    import sys

    sys.path.insert(0, REPO)
    from chai_data_pipeline_spark import plans
    from chai_data_pipeline_spark.testing import parity_selection

    names = sorted(plans.ORACLES)

    # env unset — full set
    monkeypatch.delenv("SPARK_GRAFT_PARITY_CHANGED", raising=False)
    assert parity_selection(names) == names

    def fake_run(diff_lines, untracked_lines):
        def run(cmd, **kw):
            class R:
                stdout = "\n".join(
                    diff_lines if "diff" in cmd else untracked_lines
                )
            return R()
        return run

    monkeypatch.setenv("SPARK_GRAFT_PARITY_CHANGED", "1")

    # only plans/dedup.py changed — restrict to dedup-module queries
    monkeypatch.setattr(
        subprocess, "run",
        fake_run(["chai_data_pipeline_spark/plans/dedup.py"], []),
    )
    got = parity_selection(names)
    assert got and all(
        plans.QUERIES[n].__module__.endswith(".dedup") for n in got
    )
    assert "substring_dedup_apply" in got
    assert "tpch_q1_pricing_summary" not in got

    # a shared package file changed — full sweep
    monkeypatch.setattr(
        subprocess, "run",
        fake_run(["chai_data_pipeline_spark/operators/text.py"], []),
    )
    assert parity_selection(names) == names

    # nothing changed — empty selection (nothing to re-prove)
    monkeypatch.setattr(subprocess, "run", fake_run([], []))
    assert parity_selection(names) == []

    # untracked new plan module also counts
    monkeypatch.setattr(
        subprocess, "run",
        fake_run([], ["chai_data_pipeline_spark/plans/dedup.py"]),
    )
    assert "dedup_exact_content" in parity_selection(names)
