"""The registry queries the traced runs probe, and their DuckDB output check.

The list starts from ``bench.py``'s ``HEADLINE`` + ``HEADLINE_EXT`` and keeps
one or two queries per operator family (relational shuffles and joins,
as-of join, dedup, similarity, text, graph) whose Spark run and DuckDB
oracle both finish in a few seconds at sf0.1 on a 4-core host. Each query
runs once in a traced run, so its time includes planning and code
generation for its plan shapes. The heavy
members of those groups (triangle counting, equi-depth histograms, BPE,
entity resolution) stay timed by ``bench.py``.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "distinct_agg_suppliers_per_brand",
    "asof_join_purchase_to_click",
    "dedup_simhash_near_duplicates",
    "sim_cosine_topk",
    "text_tfidf_top_terms",
    "graph_pagerank_copurchase",
]


def _checker(root: Path):
    spec = importlib.util.spec_from_file_location(
        "check_correctness", root / "scripts" / "check_correctness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleCheck:
    """Compares a query's collected rows with its DuckDB ``oracle_sql()``
    the way ``scripts/check_correctness.py`` does: same columns, same row
    count, no -0.0 cells, equal order-insensitive normalized values."""

    def __init__(self, root: Path, sf_dir: Path, oracles: dict[str, str]):
        import duckdb

        self.cc = _checker(root)
        self.oracles = oracles
        self.con = duckdb.connect()
        for t in self.cc.TABLES:
            p = sf_dir / f"{t}.parquet"
            if p.exists():
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def close(self) -> None:
        self.con.close()

    def diff(self, name: str, scols: list[str], srows: list[tuple]) -> str | None:
        if name not in self.oracles:
            return f"{name}: no oracle"
        res = self.con.execute(self.oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if self.cc._scan_negzero(srows) or self.cc._scan_negzero(drows):
            return f"{name}: -0.0 cells"
        if sorted(scols) != sorted(dcols):
            return f"{name}: columns {sorted(scols)} != {sorted(dcols)}"
        if len(srows) != len(drows):
            return f"{name}: {len(srows)} rows != {len(drows)}"
        if self.cc._norm_rows(scols, srows)[1] != self.cc._norm_rows(dcols, drows)[1]:
            return f"{name}: values differ"
        return None


class RegistryProbe:
    """Runs the listed queries on one session: ``run`` executes one query and
    collects its rows (the timed call), ``check`` compares collected rows
    with the queries' oracles, outside the timing."""

    def __init__(self, root: Path, spark, sf_dir: Path):
        import __spark_entry__ as entry

        self.root, self.spark, self.sf_dir = root, spark, sf_dir
        self.qs, self.oracles = entry.queries(), entry.oracle_sql()

    def run(self, name: str) -> tuple[list[str], list[tuple]]:
        df = self.qs[name](self.spark, str(self.sf_dir))
        return df.columns, [tuple(r) for r in df.collect()]

    def check(self, results: dict[str, tuple[list[str], list[tuple]] | str]) -> list[str]:
        """Failure messages for ``results``: each query's (columns, rows),
        or the error it raised."""
        oracle = OracleCheck(self.root, self.sf_dir, self.oracles)
        failures = []
        try:
            for name in QUERIES:
                res = results[name]
                msg = f"{name}: {res}" if isinstance(res, str) else oracle.diff(name, *res)
                if msg:
                    failures.append(msg)
        finally:
            oracle.close()
        return failures
