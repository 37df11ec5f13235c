"""Correctness checks run outside the timed regions.

A timed action collects its rows once; the check compares those rows
with the query's DuckDB twin through the package's own
``testing.compare``, without running the Spark query a second time.
Each oracle result is computed once per (data, query) and reused.  A
result whose order-insensitive fingerprint equals one that already
passed is accepted without re-comparing.
"""

from __future__ import annotations

import math
import time

#: decimals a query rounds to (ROUND(x, 2) money, ROUND(x, 4) averages)
ROUND_DIGITS = (2, 4)


class Collected:
    """The collected result of a timed action, shaped like the Spark
    DataFrame ``testing.compare`` expects (``columns``, ``dtypes``,
    ``collect``)."""

    def __init__(self, df, rows):
        self.columns = list(df.columns)
        self.dtypes = list(df.dtypes)
        self.rows = rows

    def collect(self):
        return self.rows


class _Result:
    def __init__(self, rel):
        self.columns = list(rel.columns)
        self.types = list(rel.types)
        self.rows = rel.fetchall()

    def fetchall(self):
        return self.rows


class OracleCache:
    """DuckDB connection over one table directory with memoized results;
    quacks like the connection ``testing.compare`` takes."""

    def __init__(self, con):
        self.con = con
        self._memo: dict[str, _Result] = {}

    def sql(self, query: str) -> _Result:
        if query not in self._memo:
            self._memo[query] = _Result(self.con.sql(query))
        return self._memo[query]


def fingerprint(rows) -> tuple[int, int]:
    """Order-insensitive multiset fingerprint of collected rows."""
    acc = 0
    for r in rows:
        try:
            h = hash(tuple(r))
        except TypeError:  # array columns
            h = hash(repr(tuple(r)))
        acc = (acc + h) & 0xFFFFFFFFFFFFFFFF
    return len(rows), acc


class Checker:
    """Check each timed result against its oracle; count mismatches."""

    def __init__(self, compare):
        self.compare = compare
        self._passed: set[tuple] = set()
        self.problems: list[str] = []
        self.seconds = 0.0

    def check(self, label: str, key, collected: Collected, oracle: OracleCache, sql: str) -> bool:
        t = time.perf_counter()
        try:
            return self._check(label, key, collected, oracle, sql)
        finally:
            self.seconds += time.perf_counter() - t

    def _check(self, label: str, key, collected: Collected, oracle: OracleCache, sql: str) -> bool:
        fp = (key, fingerprint(collected.rows))
        if fp in self._passed:
            return True
        bad = self.compare(collected, oracle, sql)
        if bad and rounding_ties_only(collected, oracle, sql):
            bad = []
        if bad:
            self.problems.append(f"{label}: {bad[:3]}")
            return False
        self._passed.add(fp)
        return True


def _one_rounding_unit(x: float, y: float) -> bool:
    """Both values rounded to d decimals and exactly one unit of the
    d-th decimal apart."""
    for d in ROUND_DIGITS:
        unit = 10.0 ** -d
        # the floats nearest two d-decimal values differ by one unit
        # up to their own representation error, far below unit / 100
        if round(x, d) == x and round(y, d) == y and abs(abs(x - y) - unit) < unit / 100:
            return True
    return False


def rounding_ties_only(collected: Collected, oracle: OracleCache, sql: str) -> bool:
    """Whether the result equals the oracle's except for rounded floats
    one unit of their last decimal apart.

    Both engines sum money in their own order, so a ROUND(SUM(...), 2)
    whose exact value is a half-cent tie can round either way (seen on
    tpch_q3_like revenue: 669392.8 against 669392.79).  Every other cell
    must pass the package's own tolerance, and any other difference,
    however small relative to a large sum, is a mismatch.
    """
    from simple_rust_query_engine_spark.testing import _norm_rows

    res = oracle.sql(sql)
    if sorted(collected.columns) != sorted(res.columns) or len(collected.rows) != len(res.rows):
        return False
    _, a = _norm_rows(collected.columns, [tuple(r) for r in collected.rows])
    _, b = _norm_rows(list(res.columns), [tuple(r) for r in res.rows])
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x == y:
                continue
            if not (isinstance(x, float) and isinstance(y, float)):
                return False
            if not (math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9) or _one_rounding_unit(x, y)):
                return False
    return True
