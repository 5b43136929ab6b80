"""Query registry package — import all plan modules to populate QUERIES/ORACLES."""

from .registry import AS_OF, AS_OF_DATE, ORACLES, QUERIES, query  # noqa: F401

# Each import registers its queries as a side effect.
from . import flagship  # noqa: F401,E402
from . import projections  # noqa: F401,E402
from . import joins  # noqa: F401,E402
from . import aggregates  # noqa: F401,E402
from . import windows  # noqa: F401,E402
from . import gold  # noqa: F401,E402
from . import text  # noqa: F401,E402
from . import dedup  # noqa: F401,E402
from . import similarity  # noqa: F401,E402
from . import streaming  # noqa: F401,E402
from . import multimodal  # noqa: F401,E402
from . import advanced  # noqa: F401,E402
from . import classic  # noqa: F401,E402
from . import tpch_more  # noqa: F401,E402
from . import timeseries  # noqa: F401,E402
from . import training  # noqa: F401,E402
from . import tpch2  # noqa: F401,E402
from . import tpch3  # noqa: F401,E402
from . import tpch4  # noqa: F401,E402
from . import medallion  # noqa: F401,E402
from . import diagnostics  # noqa: F401,E402
from . import sketches  # noqa: F401,E402
from . import retrieval  # noqa: F401,E402
from . import graph_analytics  # noqa: F401,E402
from . import spatial  # noqa: F401,E402
from . import pca  # noqa: F401,E402
from . import layout  # noqa: F401,E402
from . import sinks  # noqa: F401,E402

# Registration ORDER is part of the driver contract: the per-round
# correctness gate hash-checks `queries()` in dict order up to a cap
# (~50). The order is derived at import time from the gate's own
# CORRECTNESS_r*.json rows by one rule (_rank), so it advances every
# round with no manual edit. Without those files every oracle query
# counts as never-checked and the registry keeps registration order.
# Reorder is in-place so registry.QUERIES and plans.QUERIES stay the
# same objects.


def _load_driver_rows(repo_dir: str) -> tuple[set, set, dict]:
    """(hash-green names, all checked names, name -> latest green
    round) across every CORRECTNESS_r*.json in ``repo_dir``. Green
    status is each query's LATEST checked round, not a cross-round
    union, so a true regression (green in round N, red in N+1) drops
    out of the green set and rank 2 re-exposes it with no manual pin.
    Missing, corrupt or non-dict files are skipped."""
    import glob
    import json
    import os
    import re

    latest: dict = {}  # name -> (round, hash_green)
    green_round: dict = {}
    pattern = os.path.join(repo_dir, "CORRECTNESS_r*.json")
    for path in sorted(glob.glob(pattern)):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            green = isinstance(row, dict) and bool(row.get("hash_match"))
            if rnd >= latest.get(name, (-1, False))[0]:
                latest[name] = (rnd, green)
            if green:
                green_round[name] = max(green_round.get(name, 0), rnd)
    checked = set(latest)
    greens = {n for n, (_, g) in latest.items() if g}
    return greens, checked, green_round


# Queries whose SEMANTICS changed after earning a green row — the old
# evidence is stale (or was vacuous: empty==empty hash-matches), so they
# must reach the gate again. Each pin maps name -> the round its re-pin
# ships, and SELF-EXPIRES once the query earns a green row in a round
# >= that since-round: no manual cleanup after the re-check lands.
_FORCE_FRONT: dict[str, int] = {}

# Standing re-confirm quota: with ~420 queries and a ~50-slot window a
# full green re-confirmation cycle takes ~8 rounds — long enough for a
# vacuous-parity kill (empty==empty after a testdata regeneration) to
# hide. Every round the QUOTA stalest greens reach the window.
_RECONFIRM_QUOTA = 5


def _pinned(name: str, green_round: dict, pins: dict) -> bool:
    return name in pins and green_round.get(name, 0) < pins[name]


def _reconfirm(greens: set, green_round: dict, pins: dict) -> list[str]:
    """The quota picks: oracle-bearing greens by (latest green round,
    name). Actively pinned names already reach the window at rank 0, so
    they do not spend a refresh slot."""
    stalest = sorted(
        (green_round.get(n, 0), n)
        for n in greens
        if n in ORACLES and not _pinned(n, green_round, pins)
    )
    return [n for _, n in stalest[:_RECONFIRM_QUOTA]]


def _rank(name, greens, checked, green_round, pins, picks) -> tuple:
    """Sort key of ``name`` in the driver window (``picks`` is
    :func:`_reconfirm` of the same inputs):
      0: active pins in pin order, then the quota picks;
      1: oracle-bearing, never checked (new work queues itself);
      2: oracle-bearing, latest checked row red (re-exposed once fixed);
      3: greens, oldest latest-green round first;
      4: oracle-less rows-only entries (a repeat row proves nothing)."""
    if _pinned(name, green_round, pins):
        return (0, list(pins).index(name))
    if name in picks:
        return (0, len(pins) + picks.index(name))
    if name not in ORACLES:
        return (4, 0)
    if name not in checked:
        return (1, 0)
    if name not in greens:
        return (2, 0)
    return (3, green_round.get(name, 0))


def _driver_order(names, greens, checked, green_round, pins) -> list:
    picks = _reconfirm(greens, green_round, pins)
    return sorted(  # stable: ties keep registration order
        names,
        key=lambda n: _rank(n, greens, checked, green_round, pins, picks),
    )


def _reorder_for_driver() -> None:
    from pathlib import Path

    rows = _load_driver_rows(str(Path(__file__).resolve().parents[2]))
    order = _driver_order(QUERIES, *rows, _FORCE_FRONT)
    q = {n: QUERIES[n] for n in order}
    o = {n: ORACLES[n] for n in order if n in ORACLES}
    QUERIES.clear()
    QUERIES.update(q)
    ORACLES.clear()
    ORACLES.update(o)


_reorder_for_driver()
