"""Driver-contract query registry.

Every implemented operator from SURVEY.md §2 (plus the large-scale pipeline
extensions) registers here as a named query over the TESTDATA tables, with —
whenever SQL-expressible — an equivalent DuckDB oracle. ``__spark_entry__.py``
re-exports the merged registry.

Order: the SKOPE API spine (``skope_*`` and the W1-W4 window queries) comes
first, then every other query in registration order. The external
correctness gate replays the first 50 names, so the spine is always in it.
"""

from __future__ import annotations

from skope_api_spark.contract.registry import ORACLES, QUERIES

SPINE_PREFIXES = ("skope_", "w1_", "w2_", "w3_", "w4_")


def _load_all() -> None:
    # Import for registration side effects.
    from skope_api_spark.contract import (  # noqa: F401
        dedup,
        extensions,
        relational,
        scalars2,
        similarity,
        skope,
        stats,
        text,
        windows,
    )


def _spine_first() -> None:
    registered = dict(QUERIES)
    QUERIES.clear()
    # sorted() is stable: the spine moves to the front, all else keeps its order
    for name in sorted(registered, key=lambda n: not n.startswith(SPINE_PREFIXES)):
        QUERIES[name] = registered[name]


_load_all()
_spine_first()

__all__ = ["QUERIES", "ORACLES"]
