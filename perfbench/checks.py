"""Output checks. Each returns None when the output is right and a short
message naming the first difference otherwise; none of them touches
Spark, so the tests in ``test_checks.py`` can feed them wrong outputs
directly.

Query rows are compared with DuckDB's result for the row's registry
oracle SQL, canonicalized by ``tests/oracle_compare.py`` (floats at
full ``repr`` precision, columns by name, rows sorted). CDC outputs are
compared with the independent fold in ``feed.py``.
"""

from __future__ import annotations

import pandas as pd

from tests.oracle_compare import canon_rows

from perfbench import feed as F


def check_query(
    columns: list[str], rows: list[tuple], oracle_columns: list[str], oracle_rows: list[tuple]
) -> str | None:
    s_cols = [c.lower() for c in columns]
    d_cols = [c.lower() for c in oracle_columns]
    if sorted(s_cols) != sorted(d_cols):
        return f"columns differ: {sorted(s_cols)} vs oracle {sorted(d_cols)}"
    if len(rows) != len(oracle_rows):
        return f"row count {len(rows)} vs oracle {len(oracle_rows)}"
    got, want = canon_rows(s_cols, rows), canon_rows(d_cols, oracle_rows)
    if got != want:
        diff = next((a, b) for a, b in zip(got, want) if a != b)
        return f"values differ, first: {diff[0]} vs oracle {diff[1]}"
    return None


def check_replica(got: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """The replica's rows must equal the fold's live rows exactly (keys
    are unique in both, so sorting by key lines them up)."""
    cols = list(expected.columns)
    if sorted(got.columns) != sorted(cols):
        return f"replica columns {sorted(got.columns)} vs fold {sorted(cols)}"
    if len(got) != len(expected):
        return f"replica has {len(got)} rows, fold {len(expected)}"
    g = got[cols].sort_values(F.KEY, kind="stable").reset_index(drop=True)
    e = expected.sort_values(F.KEY, kind="stable").reset_index(drop=True)
    for c in cols:
        same = (g[c] == e[c]) | (g[c].isna() & e[c].isna())
        if not same.all():
            i = int((~same).to_numpy().argmax())
            return f"replica differs from fold at {F.KEY}={e[F.KEY][i]}: {c} {g[c][i]!r} vs {e[c][i]!r}"
    return None


def check_rollup(rows: list[tuple], expected: dict[str, tuple[int, int]]) -> str | None:
    """``rows`` = (group, n_rows, sum_value) from ``read_rollup``; the sum
    is the stored integer cents / 100.0, so it is compared exactly."""
    got = {str(g): (int(n), s) for g, n, s in rows}
    want = {g: (n, c / 100.0) for g, (n, c) in expected.items()}
    if got.keys() != want.keys():
        return f"rollup groups {sorted(got)} vs fold {sorted(want)}"
    for g in sorted(want):
        if got[g] != want[g]:
            return f"rollup group {g!r}: {got[g]} vs fold {want[g]}"
    return None


def check_aggregate(got: tuple, live: pd.DataFrame) -> str | None:
    """(count, sum of cents, max version) of a replica read."""
    want = (len(live), int(F.cents(live[F.VALUE]).sum()), int(live[F.VERSION].max()))
    got = tuple(int(x) for x in got)
    return None if got == want else f"replica aggregate {got} vs fold {want}"


def check_purge(purged: dict[str, int], fold: F.Fold) -> str | None:
    """Purge must remove exactly the tombstones the fold predicts."""
    n = sum(purged.values())
    return None if n == fold.tombstones else f"purged {n} tombstones, fold predicts {fold.tombstones}"


def check_multiset(before: pd.DataFrame, after: pd.DataFrame) -> str | None:
    """Compaction must keep the row multiset."""
    cols = sorted(before.columns)
    if sorted(after.columns) != cols:
        return f"compaction changed columns: {sorted(after.columns)} vs {cols}"
    b = before[cols].sort_values(cols, kind="stable").reset_index(drop=True)
    a = after[cols].sort_values(cols, kind="stable").reset_index(drop=True)
    if b.equals(a):
        return None
    return f"compaction changed the rows: {len(before)} before, {len(after)} after"
