"""Seeded CDC change feed over ``orders`` and the fold that predicts the
replica it must produce.

The feed is made with numpy/pandas from the parquet file alone, and
the fold replays it the same way, so the expected replica, rollup and
tombstone count never pass through the engine under test.

Feed make-up (per batch, of the live key count at the time):
``BATCH_SHARE`` changed rows, split ``UPDATE_SHARE`` updates,
``DELETE_SHARE`` deletes and the rest inserts of new keys. Every change
carries a fresh, strictly increasing ``version``; snapshot rows have
version 0. Updates change the price and the priority (the rollup's
group column), so the rollup delta moves rows between groups.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

KEY = "o_orderkey"
VERSION = "version"
OP = "_op"  # the replicator's delete marker column ('d' deletes)
GROUP = "o_orderpriority"
VALUE = "o_totalprice"

N_BATCHES = 4
BATCH_SHARE = 0.01
UPDATE_SHARE = 0.6
DELETE_SHARE = 0.2


@dataclass
class Feed:
    base: pd.DataFrame  # snapshot rows, version 0
    batches: list[list[dict]]  # change rows per batch, in arrival order


def make_feed(orders: pd.DataFrame, seed: int, n_batches: int = N_BATCHES) -> Feed:
    rng = np.random.default_rng(seed)
    base = orders.sort_values(KEY, kind="stable").reset_index(drop=True)
    cols = list(base.columns)
    priorities = np.array(sorted(base[GROUP].unique()))
    by_key = base.set_index(KEY, drop=False)
    current: dict[int, dict] = {}  # rows the feed has written so far

    def row(k: int) -> dict:
        return dict(current[k]) if k in current else by_key.loc[k].to_dict()

    live = set(base[KEY].tolist())
    next_key = int(base[KEY].max()) + 1
    version = 0
    batches = []
    for _ in range(n_batches):
        n = max(3, int(len(live) * BATCH_SHARE))
        n_upd = round(n * UPDATE_SHARE)
        n_del = max(1, round(n * DELETE_SHARE))
        n_ins = n - n_upd - n_del
        picked = rng.choice(np.array(sorted(live)), size=n_upd + n_del, replace=False)
        out = []
        for i, k in enumerate(picked.tolist()):
            version += 1
            if i < n_upd:
                r = row(k)
                r[VALUE] = float(round(rng.uniform(900.0, 500000.0), 2))
                r[GROUP] = str(rng.choice(priorities))
                current[k] = dict(r)
                r[OP] = "u"
            else:
                r = {c: (k if c == KEY else None) for c in cols}
                r[OP] = "d"
                live.discard(k)
                current.pop(k, None)
            r[VERSION] = version
            out.append(r)
        for _ in range(n_ins):
            version += 1
            r = row(int(base[KEY].iat[int(rng.integers(len(base)))]))
            r[KEY] = next_key
            r[VALUE] = float(round(rng.uniform(900.0, 500000.0), 2))
            current[next_key] = dict(r)
            live.add(next_key)
            next_key += 1
            r[OP] = "i"
            r[VERSION] = version
            out.append(r)
        # shuffle within the batch: arrival order is not version order
        batches.append([out[i] for i in rng.permutation(len(out))])
    return Feed(base=base.assign(**{VERSION: np.int64(0)}), batches=batches)


@dataclass
class Fold:
    live: pd.DataFrame  # expected replica rows (no _op, no bucket)
    tombstones: int  # keys whose newest change is a delete


def fold(feed: Feed) -> Fold:
    """Last-write-wins by version over snapshot + every batch, deletes
    honoured."""
    changes = pd.DataFrame([r for b in feed.batches for r in b])
    newest = changes.sort_values(VERSION).drop_duplicates(KEY, keep="last")
    dead = newest[OP] == "d"
    kept = feed.base[~feed.base[KEY].isin(newest[KEY])]
    written = newest.loc[~dead, list(feed.base.columns)].astype(feed.base.dtypes.to_dict())
    live = pd.concat([kept, written], ignore_index=True)
    return Fold(live=live, tombstones=int(dead.sum()))


def cents(values) -> np.ndarray:
    """floor(x*100 + 0.5) per row, the replicator's integer-cents rule."""
    return np.floor(np.asarray(values, dtype="float64") * 100 + 0.5).astype("int64")


def rollup(live: pd.DataFrame) -> dict[str, tuple[int, int]]:
    """group → (n_rows, sum_cents) of the expected replica."""
    g = live.assign(__c=cents(live[VALUE])).groupby(GROUP)
    return {
        str(k): (int(n), int(s))
        for k, n, s in zip(g.size().index, g.size().to_numpy(), g["__c"].sum().to_numpy())
    }
