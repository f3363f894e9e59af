"""Compaction: fragmented CDC buckets must shrink to few files with
identical readable content. Plus the ``maintenance`` CLI subcommand
(r08) that makes compact + zorder drivable end to end."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from clickhouse_build_spark.sources.maintenance import compact_table
from clickhouse_build_spark.sources.replication import Replicator, TableMapping
from tests.conftest import SF_SMOKE


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    from clickhouse_build_spark.catalog import load_tables

    orders = load_tables(spark, SF_SMOKE)["orders"]
    rep = Replicator(
        spark=spark,
        target_root=str(tmp_path),
        key_cols=["o_orderkey"],
        version_col="o_orderdate",
        n_buckets=4,
    )
    mapping = TableMapping("public", "orders", "orders_replica")
    rep.snapshot(orders, mapping)
    # The merge writer itself leaves one file set per touched bucket
    # (clear + append), so fragment the way a real table fragments:
    # many small independent appends (parallel ingest writers).
    path0 = str(tmp_path / "orders_replica")
    extra = rep._bucketed(
        orders.limit(200).withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000)
    )
    for i in range(5):
        (
            extra.withColumn("o_orderkey", F.col("o_orderkey") + i * 10_000_000)
            .repartition("bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(path0)
        )

    path = str(tmp_path / "orders_replica")
    before = rep.read(mapping).orderBy("o_orderkey").collect()
    n_files_before = sum(
        len([f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")])
        for d in os.listdir(path)
        if d.startswith("bucket=")
    )
    report = compact_table(spark, path, sort_cols=["o_orderkey", "o_orderdate"])
    after = rep.read(mapping).orderBy("o_orderkey").collect()
    n_files_after = sum(a for (_, a) in report.values())

    assert after == before  # content identical
    assert n_files_after < n_files_before  # genuinely compacted
    assert all(a <= b for (b, a) in report.values())


def _run_cli(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-m", "clickhouse_build_spark", *args],
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-800:]
    return json.loads(out.stdout)


def test_maintenance_cli_compact(spark, tmp_path):
    """compact via the CLI: fragment a bucketed replica, compact it,
    verify the report and the file counts."""
    from clickhouse_build_spark.catalog import load_tables

    orders = load_tables(spark, SF_SMOKE)["orders"].limit(500)
    rep = Replicator(
        spark=spark,
        target_root=str(tmp_path),
        key_cols=["o_orderkey"],
        version_col="o_orderdate",
        n_buckets=2,
    )
    mapping = TableMapping("public", "orders", "orders_replica")
    rep.snapshot(orders, mapping)
    path = str(tmp_path / "orders_replica")
    extra = rep._bucketed(
        orders.withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000)
    )
    for i in range(3):
        (
            extra.withColumn("o_orderkey", F.col("o_orderkey") + i * 10_000_000)
            .repartition("bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(path)
        )
    res = _run_cli(
        "maintenance",
        "compact",
        path,
        "--sort-cols",
        "o_orderkey,o_orderdate",
    )
    assert res["action"] == "compact"
    for part in res["partitions"].values():
        assert part["files_after"] <= part["files_before"]
    assert any(
        p["files_after"] < p["files_before"] for p in res["partitions"].values()
    )


def test_maintenance_cli_zorder(spark, tmp_path):
    """zorder via the CLI: rewrite orders clustered on a 2-D Morton key
    and verify the quadrant layout landed."""
    out_dir = str(tmp_path / "zordered")
    res = _run_cli(
        "maintenance",
        "zorder",
        f"{SF_SMOKE}/orders.parquet",
        out_dir,
        "--cols",
        "o_custkey,o_orderkey",
        "--bits",
        "8",
        "--coarse-bits",
        "4",
    )
    assert res["action"] == "zorder"
    assert res["quadrants"] >= 2
    n_src = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert res["rows"] == n_src
    assert any(d.startswith("__zb=") for d in os.listdir(out_dir))


def test_purge_tombstones_respects_horizon(spark, tmp_path):
    """Tombstones at or below the replay horizon are dropped; newer
    ones are retained (still guarding against replayed lower-version
    upserts); reader output is unchanged either way."""
    from clickhouse_build_spark.sources.maintenance import purge_tombstones

    rep = Replicator(
        spark=spark,
        target_root=str(tmp_path),
        key_cols=["k"],
        version_col="ver",
        n_buckets=2,
    )
    mapping = TableMapping("public", "t", "t")
    snap = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k long, grp string, ver long"
    )
    rep.replicate(snap, mapping, mode="snapshot")
    rep.apply_changes(
        spark.createDataFrame(
            [(1, None, 5, "d"), (2, None, 9, "d")],
            "k long, grp string, ver long, _op string",
        ),
        mapping,
    )
    path = str(tmp_path / "t")
    before = {r["k"] for r in rep.read(mapping).collect()}
    assert before == {3}

    # horizon 5: only k=1's tombstone qualifies
    report = purge_tombstones(spark, path, version_col="ver", horizon=5)
    assert sum(report.values()) == 1
    raw = spark.read.schema(rep._sidecar_schema(path)).parquet(path)
    tombs = {r["k"] for r in raw.filter("_op = 'd'").collect()}
    assert tombs == {2}
    assert {r["k"] for r in rep.read(mapping).collect()} == {3}

    # no horizon: everything goes
    report = purge_tombstones(spark, path, version_col="ver")
    assert sum(report.values()) == 1
    raw = spark.read.schema(rep._sidecar_schema(path)).parquet(path)
    assert raw.filter("_op = 'd'").count() == 0
    assert {r["k"] for r in rep.read(mapping).collect()} == {3}


def test_maintenance_cli_purge_tombstones(spark, tmp_path):
    from clickhouse_build_spark.sources.replication import Replicator as R

    rep = R(
        spark=spark,
        target_root=str(tmp_path),
        key_cols=["k"],
        version_col="ver",
        n_buckets=2,
    )
    mapping = TableMapping("public", "t", "t")
    snap = spark.createDataFrame([(1, 1), (2, 1)], "k long, ver long")
    rep.replicate(snap, mapping, mode="snapshot")
    rep.apply_changes(
        spark.createDataFrame([(1, 3, "d")], "k long, ver long, _op string"),
        mapping,
    )
    res = _run_cli(
        "maintenance",
        "purge-tombstones",
        str(tmp_path / "t"),
        "--version-col",
        "ver",
        "--horizon",
        "3",
    )
    assert res["action"] == "purge-tombstones"
    assert res["total_purged"] == 1


def test_replicate_cli_with_rollup(tmp_path):
    res = _run_cli(
        "replicate",
        "/root/testdata/sf0.001/orders.parquet",
        str(tmp_path),
        "--table",
        "orders",
        "--key-cols",
        "o_orderkey",
        "--version-col",
        "o_orderdate",
        "--rollup-group-cols",
        "o_orderstatus",
        "--rollup-value-col",
        "o_totalprice",
    )
    assert res["rows"] == 1500
    assert res["rollup_groups"] == 3  # O / F / P


def _crash_at_rename(monkeypatch, k, fn):
    """Run ``fn`` with the k-th ``os.rename`` raising — a writer killed
    at that point of its swap. Returns whether the crash was hit."""
    real, calls = os.rename, [0]

    def rename(src, dst):
        calls[0] += 1
        if calls[0] == k:
            raise OSError(f"injected crash at rename {k}")
        return real(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", rename)
        try:
            fn()
        except OSError as e:
            assert "injected crash" in str(e)
            return True
    return False


def _raw_rows(spark, rep, path):
    """Every stored row, tombstones included, as a sorted multiset."""
    raw = spark.read.schema(rep._sidecar_schema(path)).parquet(path)
    return sorted((tuple(sorted(r.asDict().items())) for r in raw.collect()), key=repr)


def test_compaction_rerun_after_crash_mid_swap_keeps_every_row(
    spark, tmp_path, monkeypatch
):
    """A compaction killed at any rename of its two-rename swap, then
    rerun, leaves exactly the rows it started with: the rerun restores
    a partition stranded in staging instead of deleting it."""
    import shutil

    rep = Replicator(
        spark=spark, target_root=str(tmp_path / "seed"),
        key_cols=["k"], version_col="ver", n_buckets=2,
    )
    mapping = TableMapping("public", "t", "t")
    rep.replicate(
        spark.createDataFrame([(i, 1) for i in range(40)], "k long, ver long"),
        mapping, mode="snapshot",
    )
    seed = str(tmp_path / "seed" / "t")
    extra = rep._bucketed(
        spark.createDataFrame([(i, 2) for i in range(100, 140)], "k long, ver long")
    )
    extra.repartition("bucket").write.mode("append").partitionBy("bucket").parquet(seed)
    want = _raw_rows(spark, rep, seed)
    crashes = 0
    for k in range(1, 6):
        path = str(tmp_path / f"run{k}" / "t")
        shutil.copytree(seed, path)
        compact = lambda: compact_table(spark, path, sort_cols=["k", "ver"])  # noqa: E731
        crashes += _crash_at_rename(monkeypatch, k, compact)
        report = compact()
        assert _raw_rows(spark, rep, path) == want, k
        assert all(after == 1 for (_, after) in report.values()), report
        assert not os.path.exists(path + "__compacting")
    assert crashes == 4  # two partitions x two renames, each one hit


def test_purge_rerun_after_crash_mid_swap_keeps_every_row(
    spark, tmp_path, monkeypatch
):
    """A tombstone purge killed at any rename of its swap, then rerun,
    leaves the committed row set (every live row, no purged tombstone)
    — never a partition lost between the renames."""
    import shutil

    from clickhouse_build_spark.sources.maintenance import purge_tombstones

    rep = Replicator(
        spark=spark, target_root=str(tmp_path / "seed"),
        key_cols=["k"], version_col="ver", n_buckets=2,
    )
    mapping = TableMapping("public", "t", "t")
    rep.replicate(
        spark.createDataFrame([(i, 1) for i in range(40)], "k long, ver long"),
        mapping, mode="snapshot",
    )
    rep.apply_changes(
        spark.createDataFrame(
            [(i, 2, "d") for i in range(0, 40, 3)], "k long, ver long, _op string"
        ),
        mapping,
    )
    seed = str(tmp_path / "seed" / "t")
    pre = _raw_rows(spark, rep, seed)
    committed = [r for r in pre if dict(r).get("_op") != "d"]
    assert len(pre) - len(committed) == 14
    crashes = 0
    for k in range(1, 6):
        path = str(tmp_path / f"run{k}" / "t")
        shutil.copytree(seed, path)
        purge = lambda: purge_tombstones(spark, path, version_col="ver")  # noqa: E731
        crashes += _crash_at_rename(monkeypatch, k, purge)
        purge()
        # the rerun finishes the purge: the committed set, never fewer
        assert _raw_rows(spark, rep, path) == committed, k
        assert not os.path.exists(path + "__purging")
    assert crashes == 4  # both partitions hold tombstones: 2 x 2 renames
