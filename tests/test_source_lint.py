"""Source-level lint pins for failure modes tests can't catch at runtime.

Round 10 shipped a silently-broken oracle: `dedup_canonical_selection`
composed its SQL via `_QUERIES[...].oracle.replace(old, new)`, a
refactor changed the donor oracle so `old` no longer occurred, and
`.replace()` NO-OPed — the query inherited the donor's schema and only
a full pytest run caught it. Oracle SQL must be composed from shared
prefix CONSTANTS plus explicit tails (the `_NEARDUP_COMP_SQL + tail`
pattern), never by patching another query's registered string.

Operators and plans read no environment variables: an import-frozen
knob changes what a query computes without its DuckDB oracle seeing
it. A value that must vary belongs in the query's inputs, not os.environ.
"""

from __future__ import annotations

import os

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "stream_ingestion_amazon_kinesis_spark",
)


def _offenders(top: str, needles: tuple[str, ...]) -> list[str]:
    """`path:line: text` for every .py line under `top` holding a needle."""
    hits = []
    for root, _dirs, files in os.walk(top):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if any(n in line for n in needles):
                        hits.append(f"{path}:{i}: {line.strip()}")
    return hits


def test_no_oracle_string_patching():
    offenders = _offenders(_PKG, (".oracle.replace(",))
    assert not offenders, (
        "oracle SQL composed by patching another query's registered "
        "string — a donor refactor makes .replace() silently no-op "
        "(round-10 dedup_canonical_selection break). Compose from a "
        "shared prefix constant + explicit tail instead:\n"
        + "\n".join(offenders)
    )


def test_operators_and_plans_read_no_environment():
    offenders = [
        hit
        for sub in ("operators", "plans")
        for hit in _offenders(os.path.join(_PKG, sub), ("os.environ", "getenv("))
    ]
    assert not offenders, (
        "operator/plan code reads the environment — make the value a "
        "constant or derive it from the data:\n" + "\n".join(offenders)
    )


def test_readme_surface_counts_match_registry():
    import re

    from stream_ingestion_amazon_kinesis_spark.plans.registry import (
        QUERIES,
        _load_all,
    )

    _load_all()
    readme = os.path.join(os.path.dirname(_PKG), "README.md")
    with open(readme, encoding="utf-8") as f:
        m = re.search(
            r"(\d+) registered queries \((\d+) with exact", f.read()
        )
    assert m, "README surface-count sentence missing"
    n_oracle = sum(1 for s in QUERIES.values() if s.oracle is not None)
    assert (int(m.group(1)), int(m.group(2))) == (len(QUERIES), n_oracle), (
        f"README says {m.groups()}, registry has "
        f"({len(QUERIES)}, {n_oracle}) — update README.md"
    )
