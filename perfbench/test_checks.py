"""The benchmark's checks must fail on wrong outputs.

    python3 -m pytest perfbench/test_checks.py -q

Each test feeds a check a correct output (it must pass) and then a
deliberately wrong one (it must fail): a dropped row, a float changed
in its last digit, a deleted key brought back, a rollup off by one, a
miscounted purge, a compaction that lost or duplicated a row. No Spark
session is started.
"""

import json
import math
import os
import sys
from collections import Counter

import pandas as pd
import pytest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402
from perfbench import feed as FD  # noqa: E402
from perfbench import run  # noqa: E402


@pytest.fixture(scope="module")
def orders():
    return pd.DataFrame(
        {
            "o_orderkey": list(range(1, 401)),
            "o_custkey": [k % 37 for k in range(1, 401)],
            "o_orderstatus": ["OFP"[k % 3] for k in range(400)],
            "o_totalprice": [1000.0 + k * 10.07 for k in range(400)],
            "o_orderdate": pd.to_datetime("1995-01-01") + pd.to_timedelta(range(400), unit="D"),
            "o_orderpriority": [f"{1 + k % 5}-P" for k in range(400)],
        }
    )


@pytest.fixture(scope="module")
def folded(orders):
    fd = FD.make_feed(orders, seed=7, n_batches=5)
    return fd, FD.fold(fd)


def _rows(df):
    return list(df.itertuples(index=False, name=None))


# ------------------------------------------------------------ query rows


def test_query_check_fails_on_dropped_row_and_last_digit():
    cols = ["k", "v"]
    rows = [(1, 0.1 + 0.2), (2, 1.5), (3, None)]
    assert checks.check_query(cols, rows, ["v", "k"], [(r[1], r[0]) for r in rows]) is None
    assert "row count" in checks.check_query(cols, rows[:-1], cols, rows)
    bumped = [(1, math.nextafter(0.1 + 0.2, 1.0)), *rows[1:]]
    assert "values differ" in checks.check_query(cols, bumped, cols, rows)
    assert "columns differ" in checks.check_query(["k", "w"], rows, cols, rows)


# ------------------------------------------------------------------- cdc


def test_feed_is_seeded_and_mixes_changes(orders):
    a, b = FD.make_feed(orders, 3, 4), FD.make_feed(orders, 3, 4)
    c = FD.make_feed(orders, 4, 4)
    assert a.batches == b.batches and a.batches != c.batches
    ops = Counter(r[FD.OP] for batch in a.batches for r in batch)
    assert ops["u"] > ops["d"] > 0 and ops["i"] > 0
    versions = [r[FD.VERSION] for batch in a.batches for r in batch]
    assert sorted(versions) == list(range(1, len(versions) + 1))


def test_replica_check_fails_on_dropped_row_and_resurrected_key(folded):
    fd, fold = folded
    live = fold.live
    assert checks.check_replica(live.sample(frac=1, random_state=1), live) is None
    assert "rows" in checks.check_replica(live.iloc[1:], live)
    deleted = next(r[FD.KEY] for b in fd.batches for r in b if r[FD.OP] == "d")
    back = fd.base[fd.base[FD.KEY] == deleted]
    assert len(back) == 1  # a snapshot key the feed deleted
    resurrected = pd.concat([live.iloc[1:], back[live.columns]])
    assert "differs" in checks.check_replica(resurrected, live)
    off = live.copy()
    off.loc[0, FD.VALUE] = math.nextafter(off.loc[0, FD.VALUE], math.inf)
    assert "differs" in checks.check_replica(off, live)


def test_rollup_check_fails_off_by_one(folded):
    _, fold = folded
    expected = FD.rollup(fold.live)
    good = [(g, n, c / 100.0) for g, (n, c) in expected.items()]
    assert checks.check_rollup(good, expected) is None
    g, n, v = good[0]
    assert checks.check_rollup([(g, n + 1, v), *good[1:]], expected) is not None
    assert checks.check_rollup([(g, n, v + 0.01), *good[1:]], expected) is not None
    assert checks.check_rollup(good[1:], expected) is not None


def test_aggregate_check_fails_on_lost_row(folded):
    _, fold = folded
    live = fold.live
    agg = (len(live), int(FD.cents(live[FD.VALUE]).sum()), int(live[FD.VERSION].max()))
    assert checks.check_aggregate(agg, live) is None
    assert checks.check_aggregate((agg[0] - 1, *agg[1:]), live) is not None
    assert checks.check_aggregate((agg[0], agg[1] + 1, agg[2]), live) is not None


def test_purge_check_counts_exactly_the_fold_tombstones(folded):
    _, fold = folded
    assert fold.tombstones > 0
    assert checks.check_purge({"bucket=0": fold.tombstones}, fold) is None
    assert checks.check_purge({"bucket=0": fold.tombstones - 1}, fold) is not None
    assert checks.check_purge({"bucket=0": fold.tombstones, "bucket=1": 1}, fold) is not None


def test_multiset_check_fails_on_lost_or_duplicated_row(folded):
    _, fold = folded
    rows = fold.live
    assert checks.check_multiset(rows, rows.sample(frac=1, random_state=2)) is None
    assert checks.check_multiset(rows, rows.iloc[1:]) is not None
    assert checks.check_multiset(rows, pd.concat([rows.iloc[1:], rows.iloc[2:3]])) is not None


def test_fold_is_last_write_wins():
    base = pd.DataFrame({"o_orderkey": [1, 2], "o_totalprice": [1.0, 2.0],
                         "o_orderpriority": ["a", "b"]}).assign(version=0)
    upd = {"o_orderkey": 1, "o_totalprice": 5.0, "o_orderpriority": "a", FD.VERSION: 2, FD.OP: "u"}
    stale = {**upd, "o_totalprice": 9.0, FD.VERSION: 1}
    dele = {"o_orderkey": 2, "o_totalprice": None, "o_orderpriority": None, FD.VERSION: 3, FD.OP: "d"}
    f = FD.fold(FD.Feed(base=base, batches=[[upd, dele], [stale]]))
    assert _rows(f.live) == [(1, 5.0, "a", 2)]
    assert f.tombstones == 1


@pytest.mark.parametrize("key", ["end_to_end", "per_layer"])
def test_result_metrics_must_match_benchmark_json(key):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: {"value": 1.0, "unit": m["unit"]} for m in bench[key]}
    assert run.manifest_mismatch(metrics, key) is None
    first = next(iter(metrics))
    dropped = {k: v for k, v in metrics.items() if k != first}
    assert run.manifest_mismatch(dropped, key)
    assert run.manifest_mismatch({**metrics, "extra_s": {"value": 1.0, "unit": "s"}}, key)
    assert run.manifest_mismatch({**metrics, first: {"value": 1.0, "unit": "furlong"}}, key)
