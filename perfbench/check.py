"""Output checks: each query against its DuckDB oracle on the same inputs.

The comparison is the repo's own: ``tools/oracle_check.py`` provides the
canonical value format and the type rules, imported here unchanged.
``ipf_cost_per_visit`` has no oracle; its IPF invariants are checked
instead (see :func:`check_ipf`).
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

from perfbench.inputs import TABLES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Largest |row or column sum − marginal| allowed, as a share of Σx. The
# flagship stops at an x-loss of 1e-9·Σx; a misallocated part moves its
# row sum by about x_part/Σx, which is 5e-4 at 2k parts.
IPF_REL_TOL = 1e-6


def _oracle_check_module():
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OutputChecker:
    def __init__(self, sf_dir: str, oracles: dict[str, str]) -> None:
        self.oc = _oracle_check_module()
        self.oracles = oracles
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, cols: list[str], rows: list[tuple], schema) -> list[str]:
        """Problems found in one query's output (empty when it passes)."""
        if name == "ipf_cost_per_visit":
            return self.check_ipf(cols, rows)
        if name not in self.oracles:
            return [f"{name} has no oracle"]
        rel = self.con.sql(self.oracles[name])
        ocols, otypes, orows = list(rel.columns), list(rel.types), rel.fetchall()
        sn, sb = self.oc.frame_sig(cols, rows)
        on, ob = self.oc.frame_sig(ocols, orows)
        problems = self.oc.type_problems(otypes, ocols, schema)
        if len(rows) != len(orows):
            problems.append(f"rows {len(rows)} vs {len(orows)}")
        if sn != on:
            problems.append(f"schema {sn} vs {on}")
        if not problems and sb != ob:
            diffs = [(a, b) for a, b in zip(sb, ob) if a != b][:2]
            problems.append(f"values differ, first: {diffs}")
        return problems

    def check_ipf(self, cols: list[str], rows: list[tuple]) -> list[str]:
        """Non-empty, and the imputed cost matrix's row sums match the
        part marginal and its column sums the hour marginal rescaled to
        Σx, each within IPF_REL_TOL·Σx."""
        if not rows:
            return ["empty output"]
        part, hour, cost = (cols.index(c) for c in ("part", "hour", "cost"))
        rowsum: dict[int, float] = {}
        colsum: dict[int, float] = {}
        for r in rows:
            rowsum[r[part]] = rowsum.get(r[part], 0.0) + r[cost]
            colsum[r[hour]] = colsum.get(r[hour], 0.0) + r[cost]
        x = dict(self.con.sql(
            "SELECT l_partkey, SUM(l_extendedprice * (1 - l_discount)) FROM lineitem "
            "GROUP BY 1 HAVING SUM(l_extendedprice * (1 - l_discount)) != 0").fetchall())
        y = dict(self.con.sql(
            "SELECT hour(ts), SUM(value) FROM events GROUP BY 1 "
            "HAVING SUM(value) != 0").fetchall())
        x_total, y_total = sum(x.values()), sum(y.values())
        y = {h: v * x_total / y_total for h, v in y.items()}
        problems = []
        for label, got, want in (("row", rowsum, x), ("column", colsum, y)):
            if set(got) != set(want):
                problems.append(f"{label} ids differ from the marginal's")
                continue
            worst = max(abs(got[k] - want[k]) for k in want) / x_total
            if worst > IPF_REL_TOL:
                problems.append(f"{label} sums off the marginal by {worst:.2e} of Σx")
        return problems
