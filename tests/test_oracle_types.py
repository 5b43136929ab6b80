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

import io
import re
import tokenize
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
# input silently becomes the lower bound), the winsor cap / 2^53 guard
# constants have one home each (CENTS_CAP, _DR_MAX), and a half-up grid
# ``x * 10^k + 0.5`` rides dround/sql_dround (divide-back) or
# qround/sql_qround (integer), which own the saturation guard and cap.
_GAP = r"(?:\s|#[^\n]*|--[^\n]*)*"  # whitespace and line comments
_BANNED_IDIOMS = {
    "nested LEAST/GREATEST clamp (use sql_clamp)": re.compile(
        rf"LEAST\({_GAP}GREATEST\(|GREATEST\({_GAP}LEAST\(", re.IGNORECASE
    ),
    "nested F.least/F.greatest clamp (use clamp)": re.compile(
        rf"F\.least\({_GAP}F\.greatest\(|F\.greatest\({_GAP}F\.least\("
    ),
    "cents winsor cap literal (use CENTS_CAP)": re.compile(
        r"(?<![\w.])60_?000(?!\w)"
    ),
    "2^53 literal (use numeric._DR_MAX)": re.compile(
        r"(?<![\w.])9_?007_?199_?254_?740_?992(?!\w)"
    ),
    "hand-written half-up grid x*10^k+0.5 (use dround/qround)": re.compile(
        rf"\*{_GAP}(?:10+(?:\.0*)?|1(?:\.0*)?[eE]\+?\d+|10{_GAP}\*\*{_GAP}\w+)"
        rf"(?![\w.]){_GAP}\+{_GAP}(?:F\.lit\({_GAP})?0?\.5(?!\d)"
    ),
}
_PKG = Path(plans.__file__).parent.parent


def _prose_spans(src: str) -> list[tuple[int, int]]:
    """(start, end) offsets of comments and docstrings in ``src``."""
    offs = [0]
    for line in src.splitlines(keepends=True):
        offs.append(offs[-1] + len(line))
    toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
    spans = []
    for i, t in enumerate(toks):
        prev = toks[i - 1].type if i else tokenize.NEWLINE
        doc = t.type == tokenize.STRING and prev in (
            tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.NL
        ) and toks[i + 1].type in (tokenize.NEWLINE, tokenize.ENDMARKER)
        if t.type == tokenize.COMMENT or doc:
            spans.append(
                (offs[t.start[0] - 1] + t.start[1], offs[t.end[0] - 1] + t.end[1])
            )
    return spans


def _in_python_math_floor(src: str, pos: int) -> bool:
    """True when ``pos`` sits inside a ``math.floor(...)`` call: a
    Python-side constant or UDF value, not an engine expression."""
    depth = 0
    for i in range(pos - 1, -1, -1):
        if src[i] == ")":
            depth += 1
        elif src[i] == "(":
            if depth == 0:
                return re.search(r"math[\"')]*\.floor\s*$", src[:i]) is not None
            depth -= 1
    return False


def _idiom_hits(path: Path) -> list[str]:
    """Banned idioms in one source file; a grid in a comment, a
    docstring or a Python-side ``math.floor`` is not an engine grid."""
    src = path.read_text()
    rel = path.relative_to(_PKG).as_posix()
    prose = _prose_spans(src)
    hits = []
    for what, pat in _BANNED_IDIOMS.items():
        grid = what.startswith("hand-written half-up grid")
        for m in pat.finditer(src):
            if grid and (
                any(a <= m.start() < b for a, b in prose)
                or _in_python_math_floor(src, m.start())
            ):
                continue
            line = src.count("\n", 0, m.start()) + 1
            hits.append(f"{rel}:{line}: {what}")
    return hits


def test_plans_use_numeric_clamp_helpers():
    hits = []
    for path in sorted(_PKG.rglob("*.py")):
        if path.relative_to(_PKG).as_posix() != "functions/numeric.py":
            hits += _idiom_hits(path)
    assert not hits, "\n".join(hits)


# The session catalog (session.py) holds the one memo of plan objects
# and the one parquet-footer reader; a second module-level cache or a
# footer read elsewhere in the package would split the catalog again.
# tools/nullsweep.py reads and writes whole parquet tables, not footers.
_CATALOG_IDIOMS = {
    "parquet footer read (use session.parquet_footer)": re.compile(
        r"\b(?:ParquetFile|read_metadata)\("
    ),
    "module-level plan/footer cache (use session.memo/parquet_footer)": (
        re.compile(r"^_\w*(?:MEMO|ROWS|META)\b[^=\n]*=\s*(?:\{|dict\()", re.M)
    ),
}


def test_catalog_caches_live_in_session():
    hits = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == "session.py":
            continue
        src = path.read_text()
        prose = _prose_spans(src)
        for what, pat in _CATALOG_IDIOMS.items():
            for m in pat.finditer(src):
                if not any(a <= m.start() < b for a, b in prose):
                    line = src.count("\n", 0, m.start()) + 1
                    hits.append(f"{rel}:{line}: {what}")
    assert not hits, "\n".join(hits)
