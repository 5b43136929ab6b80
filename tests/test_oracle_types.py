"""Arrow/value-class parity for every registered oracle (driver-hash contract).

The driver's value hash is sensitive to the Python type each cell
materializes as (int vs Decimal vs float vs date ...). Round 1 lost two
otherwise-correct queries to DuckDB count_if returning HUGEINT (Arrow
decimal128(38,0)) while Spark returned int64 — invisible to the
value-normalizing compare in testing.compare_query. This sweep catches
any such artifact locally: Spark schema analysis (no job) vs DuckDB
DESCRIBE (no execution), compared at value-class granularity including
decimal scale and instant-vs-naive timestamps.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from chai_data_pipeline_spark import plans
from chai_data_pipeline_spark.testing import (
    oracle_type_mismatches,
    parity_selection,
)


def _oracle_names():
    # see test_oracle_parity._oracle_names — changed-only dev filter
    return parity_selection(sorted(plans.ORACLES))


@pytest.mark.parametrize("name", _oracle_names())
def test_oracle_value_classes(spark, duck, sf_dir, name):
    mism = oracle_type_mismatches(
        spark, duck, plans.QUERIES[name], plans.ORACLES[name], sf_dir
    )
    assert not mism, (
        f"{name}: column value-class mismatch (col, spark, duckdb): {mism}"
    )


# Hand-written cross-engine idioms that must ride functions/numeric.py
# instead: LEAST/GREATEST skip NULL arguments on both engines (a NULL
# input silently becomes the lower bound), and the winsor cap / 2^53
# guard constants have one home each (CENTS_CAP, _DR_MAX).
_GAP = r"(?:\s|#[^\n]*|--[^\n]*)*"  # whitespace and line comments
_BANNED_IDIOMS = {
    "nested LEAST/GREATEST clamp (use sql_clamp)": re.compile(
        rf"LEAST\({_GAP}GREATEST\(|GREATEST\({_GAP}LEAST\(", re.IGNORECASE
    ),
    "nested F.least/F.greatest clamp (use clamp)": re.compile(
        rf"F\.least\({_GAP}F\.greatest\(|F\.greatest\({_GAP}F\.least\("
    ),
    "cents winsor cap literal (use cents/CENTS_CAP)": re.compile(
        r"(?<![\w.])60_?000(?!\w)"
    ),
    "2^53 literal (use numeric._DR_MAX)": re.compile(
        r"(?<![\w.])9_?007_?199_?254_?740_?992(?!\w)"
    ),
}


def test_plans_use_numeric_clamp_helpers():
    plans_dir = Path(plans.__file__).parent
    hits = []
    for path in sorted(plans_dir.glob("*.py")):
        src = path.read_text()
        for what, pat in _BANNED_IDIOMS.items():
            for m in pat.finditer(src):
                line = src.count("\n", 0, m.start()) + 1
                hits.append(f"{path.name}:{line}: {what}")
    assert not hits, "\n".join(hits)
