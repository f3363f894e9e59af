"""Replication layer: snapshot / CDC / cdc_only (SURVEY S3-S7, C1-C4).

The reference's data-migrator produces ClickPipe configs with three
replication modes (``src/tools/data_migrator.py:10-21``):

- ``snapshot``      — one-time full copy,
- ``cdc``           — initial snapshot followed by real-time sync,
- ``cdc_only``      — continuous sync without backfill,

plus source→target ``tableMappings`` (``:46-55``) and documented
assumptions about ordering keys (``src/prompts/data_migrator.py:25-37``).
ClickPipes lands CDC rows in ReplacingMergeTree-style tables where
readers see the latest version per key.

Spark-first re-expression:

- snapshot  = batch read → partitioned parquet write,
- cdc       = snapshot + incremental micro-batch **merge**: union the
  change batch with the affected state, resolve latest-version-per-key
  with a window (``row_number() OVER (PARTITION BY key ORDER BY version
  DESC) = 1`` — the ReplacingMergeTree analogue, SURVEY C3), honoring
  delete markers,
- cdc_only  = the same merge loop starting from empty state.

100 TB design (SURVEY §7.4 hard part #6): the target table is stored
**hash-bucketed by key** (``bucket`` partition column). Each merge batch
only rewrites the buckets its keys touch — a batch touching 1% of
buckets rewrites 1% of the table, never a full-table shuffle. The window
dedup runs per bucket, so its shuffle is bounded by bucket size.
"""

from __future__ import annotations

import enum
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_build_spark.localframe import local_frame


class ReplicationMode(str, enum.Enum):
    """Mirrors the reference's mode enum (``src/tools/data_migrator.py:10-21``)."""

    SNAPSHOT = "snapshot"  # one-time copy
    CDC = "cdc"  # initial snapshot + continuous sync
    CDC_ONLY = "cdc_only"  # continuous sync, no backfill


@dataclass(frozen=True)
class TableMapping:
    """One tableMappings entry (``src/tools/data_migrator.py:49-55``)."""

    source_schema: str
    source_table: str
    target_table: str


# Delete-marker column understood in change batches. A CDC feed row with
# _op = 'd' removes the key; anything else upserts.
OP_COLUMN = "_op"
DELETE_OP = "d"
# Table schema sidecar: lets a fully-emptied replica (every key deleted)
# stay readable as an empty table.
_SCHEMA_FILE = "_table_schema.json"
# Where a table's maintained rollup lives relative to the table itself.
ROLLUP_SUFFIX = "__rollup"


@dataclass(frozen=True)
class RollupSpec:
    """Incremental aggregate maintenance (r08 — the AggregatingMergeTree
    / materialized-view analogue, VERDICT r07 #4): keep a per-group
    rollup of the replica's LATEST-PER-KEY state fresh inside the CDC
    merge loop, so readers scan |groups| rows instead of recomputing
    the aggregate per query.

    Maintained columns: ``n_rows`` (live keys per group) and, when
    ``value_col`` is set, ``sum_cents`` (Σ floor(value×100+0.5) as
    BIGINT — integer at rest, so incremental ±delta arithmetic is exact
    and addition-order-free; the reader divides by 100.0 once).

    The maintenance is the classic incremental-view-maintenance delta:
    each merge batch touches a bounded set of hash buckets, so
    ``delta(group) = agg(merged touched rows) − agg(pre-merge touched
    rows)`` — updates retract the old row's contribution, deletes
    retract without adding, and groups whose count reaches 0 leave the
    rollup. The rollup itself is stored hash-bucketed by group, and a
    batch rewrites only the group-buckets its deltas touch — both
    sides of the maintenance are O(touched), never O(table).
    """

    group_cols: list[str]
    value_col: str | None = None


def rollup_from_mv(ddl: str) -> tuple[str, str, RollupSpec]:
    """CH ``CREATE MATERIALIZED VIEW ... ENGINE = SummingMergeTree``
    DDL → (view name, source table, RollupSpec) — the CH rollup idiom
    declared in the user's own dialect, maintained by the CDC merge
    loop (r09; parser in functions/chsql.py, unsupported shapes fail
    loudly there)."""
    from clickhouse_build_spark.functions.chsql import parse_materialized_view

    mv = parse_materialized_view(ddl)
    return mv.name, mv.source, RollupSpec(
        group_cols=mv.group_cols, value_col=mv.value_col
    )


def latest_per_key(
    df: DataFrame, key_cols: list[str], version_col: str, tiebreak_col: str | None = None
) -> DataFrame:
    """ReplacingMergeTree read semantics (SURVEY C3): newest version wins.

    ``row_number() OVER (PARTITION BY key ORDER BY version DESC [, tiebreak
    DESC]) = 1``. The tiebreaker keeps resolution deterministic when two
    changes share a version (SURVEY §7.4 #5).
    """
    order = [F.desc(version_col)]
    if tiebreak_col is not None:
        order.append(F.desc(tiebreak_col))
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@dataclass
class Replicator:
    """``engine.replicate(...)`` — the reference's ClickPipe semantics as a
    read-transform-write pipeline.

    ``assumptions`` mirrors the reference's assumption log
    (``src/prompts/data_migrator.py:25-37``): every default we pick
    (ordering key, bucket count) is recorded for the caller to audit.
    """

    spark: SparkSession
    target_root: str
    key_cols: list[str]
    version_col: str
    n_buckets: int = 32
    assumptions: list[str] = field(default_factory=list)
    # Optional maintained rollup (r08): see RollupSpec. None = no rollup.
    rollup: RollupSpec | None = None

    def _target_path(self, mapping: TableMapping) -> str:
        return os.path.join(self.target_root, mapping.target_table)

    def _bucketed(self, df: DataFrame) -> DataFrame:
        # Hash-bucket on the replication key: the physical layout that
        # bounds every future merge to the touched buckets.
        key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in self.key_cols])
        return df.withColumn("bucket", F.pmod(F.hash(key), F.lit(self.n_buckets)))

    # ---------------------------------------------------------------- modes

    def replicate(
        self,
        source: DataFrame,
        mapping: TableMapping,
        mode: ReplicationMode | str = ReplicationMode.SNAPSHOT,
        changes: DataFrame | None = None,
    ) -> str:
        """Run one table's replication in the given mode; returns the
        target path. ``changes`` feeds the cdc modes (a batch of the
        change stream: source columns + version + optional ``_op``).
        """
        mode = ReplicationMode(mode)
        if mode is ReplicationMode.SNAPSHOT:
            return self.snapshot(source, mapping)
        if mode is ReplicationMode.CDC:
            path = self.snapshot(source, mapping)
            if changes is not None:
                self.apply_changes(changes, mapping)
            return path
        # CDC_ONLY: no backfill — state starts from whatever exists.
        if changes is not None:
            self.apply_changes(changes, mapping)
        else:
            # No change batch yet: initialize an empty-but-readable table
            # (schema sidecar + empty dir) so read() works before the
            # first sync lands — the CLI's cdc_only mode hits this.
            path = self._target_path(mapping)
            if not os.path.isdir(path):
                self._persist_schema(self._bucketed(source), path)
        return self._target_path(mapping)

    def snapshot(self, source: DataFrame, mapping: TableMapping) -> str:
        """S3: full copy, written hash-bucketed by key + sorted within
        partitions by (key, version) — the 'ordering key' assumption the
        reference documents (``src/prompts/data_migrator.py:36``)."""
        path = self._target_path(mapping)
        self.assumptions.append(
            f"{mapping.target_table}: ordering key = ({', '.join(self.key_cols)}, "
            f"{self.version_col}); {self.n_buckets} hash buckets"
        )
        bucketed = self._bucketed(source)
        (
            bucketed.repartition("bucket")
            .sortWithinPartitions(*self.key_cols, self.version_col)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(path)
        )
        self._persist_schema(bucketed, path)
        if self.rollup is not None:
            # Initialize the rollup from the snapshot in one pass; every
            # merge after this maintains it by ±delta.
            init = self._rollup_gbucketed(self._rollup_agg(bucketed))
            (
                init.repartition("gbucket")
                .write.mode("overwrite")
                .partitionBy("gbucket")
                .parquet(path + ROLLUP_SUFFIX)
            )
            self._persist_schema(init, path + ROLLUP_SUFFIX)
        return path

    def apply_changes(self, changes: DataFrame, mapping: TableMapping) -> str:
        """C2/C3: merge one change batch into the target.

        Only the hash buckets present in the batch are read, merged
        (latest version per key; winning deletes retained as stored
        tombstones the reader filters), and rewritten — dynamic
        partition overwrite leaves all other buckets untouched.
        """
        path = self._target_path(mapping)
        has_op = OP_COLUMN in changes.columns
        # Materialize the batch once (r18): the batch frame feeds the
        # touched-bucket probe, the merge union and (conformed) the
        # empty-state rollup path — without the checkpoint each of
        # those re-scans the change feed's source.
        batch = self._bucketed(changes).localCheckpoint(eager=True)

        touched = [r["bucket"] for r in batch.select("bucket").distinct().collect()]
        self.assumptions.append(
            f"{mapping.target_table}: merge batch touched {len(touched)}/"
            f"{self.n_buckets} buckets"
        )

        has_data = os.path.isdir(path) and any(
            d.startswith("bucket=") for d in os.listdir(path)
        )
        if has_data:
            # Read through the persisted sidecar schema: after a
            # tombstone-retaining merge, TOUCHED buckets carry _op while
            # untouched buckets keep the older column set — a plain read
            # would adopt whichever file it sampled first and either
            # drop stored tombstone markers (resurrecting deleted keys)
            # or lose columns. Missing columns read as null.
            state = self._read_with_sidecar_schema(path).filter(
                F.col("bucket").isin(touched)
            )
            if has_op and OP_COLUMN not in state.columns:
                state = state.withColumn(OP_COLUMN, F.lit(None).cast("string"))
            # Conform the batch to the table's declared types: a change
            # feed with slightly different types (int vs long version,
            # string dates) must not fork the parquet schema — untouched
            # buckets keep the old schema, so a drifted write would make
            # the table unreadable.
            state_types = {f.name: f.dataType for f in state.schema.fields}
            batch = batch.select(
                *[
                    F.col(c).cast(state_types[c]).alias(c)
                    if c in state_types
                    else F.col(c)
                    for c in batch.columns
                ]
            )
            # Change-marker tiebreak: a change row carrying the SAME
            # version as the stored row must win deterministically (the
            # feed is by definition newer) — without it the window's
            # version-only ordering picks an arbitrary side and a
            # same-version update/delete can be silently dropped.
            merged_input = (
                state.withColumn("__src", F.lit(0))
                .unionByName(batch.withColumn("__src", F.lit(1)), allowMissingColumns=True)
            )
        else:
            merged_input = batch.withColumn("__src", F.lit(1))

        merged = latest_per_key(
            merged_input, self.key_cols, self.version_col, tiebreak_col="__src"
        ).drop("__src")
        # TOMBSTONE RETENTION (r08): a winning delete row is STORED as a
        # tombstone (ClickHouse ReplacingMergeTree's is_deleted
        # analogue), not dropped — dropping it loses the delete's
        # version, so a lower-version upsert arriving in a LATER batch
        # would silently resurrect the key (caught by the per-batch
        # rollup-consistency test over an interleaved feed,
        # tests/test_rollup.py). ``read`` filters tombstones; at
        # production scale they are TTL'd once the feed's replay
        # horizon passes.

        # Materialize the merge BEFORE clearing the touched buckets (the
        # merge reads them) — r18: as a STAGED bucketed parquet write
        # (one job) whose partition directories are renamed into place
        # after the clear, instead of an eager localCheckpoint followed
        # by a second full write job. The swap still covers the case
        # where deletes empty a bucket entirely (the cleared directory
        # simply stays absent), and the staging sibling lives OUTSIDE
        # the table path so readers never see half a merge.
        stage = path + ".staging"
        shutil.rmtree(stage, ignore_errors=True)
        (
            merged.repartition("bucket")
            .sortWithinPartitions(*self.key_cols, self.version_col)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(stage)
        )
        rollup_delta = None
        if self.rollup is not None:
            # IVM delta over the touched buckets: what the merged rows
            # contribute minus what the pre-merge rows contributed.
            # Checkpointed NOW — the old side reads parquet files the
            # clear below deletes; the new side reads the staged merge
            # back (a file read, not a recompute).
            staged_merged = self.spark.read.schema(merged.schema).parquet(
                stage
            )
            old_part = self._rollup_agg(
                state if has_data else batch.filter(F.lit(False))
            )
            new_part = self._rollup_agg(staged_merged)
            g = self.rollup.group_cols
            val_cols = [c for c in ("n_rows", "sum_cents") if c in new_part.columns]
            o = old_part.select(
                *g, *[F.col(c).alias(f"__o_{c}") for c in val_cols]
            )
            n = new_part.select(
                *g, *[F.col(c).alias(f"__n_{c}") for c in val_cols]
            )
            rollup_delta = (
                n.join(o, g, "full_outer")
                .select(
                    *g,
                    *[
                        (
                            F.coalesce(F.col(f"__n_{c}"), F.lit(0))
                            - F.coalesce(F.col(f"__o_{c}"), F.lit(0))
                        ).alias(c)
                        for c in val_cols
                    ],
                )
                .filter(
                    " OR ".join(f"{c} != 0" for c in val_cols)
                )
                .localCheckpoint(eager=True)
            )
        self._persist_schema(merged, path)
        _clear_buckets(path, touched)
        _adopt_partition_dirs(stage, path, "bucket=")
        if rollup_delta is not None:
            self._apply_rollup_delta(rollup_delta, path)
        return path

    # ------------------------------------------------------------ rollup

    def _rollup_agg(self, df: DataFrame) -> DataFrame:
        """Per-group contribution of a set of state rows: live-row count
        and (optionally) the integer-cents value sum. Integer at rest so
        delta arithmetic is exact and order-free. Stored tombstones
        contribute nothing."""
        spec = self.rollup
        if OP_COLUMN in df.columns:
            df = df.filter(
                F.coalesce(F.col(OP_COLUMN), F.lit("")) != DELETE_OP
            )
        aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
        if spec.value_col is not None:
            cents = F.floor(
                F.col(spec.value_col) * 100 + F.lit(0.5)
            ).cast("long")
            aggs.append(F.sum(cents).alias("sum_cents"))
        return df.groupBy(*spec.group_cols).agg(*aggs)

    def _rollup_gbucketed(self, rolled: DataFrame) -> DataFrame:
        gkey = F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in self.rollup.group_cols]
        )
        return rolled.withColumn(
            "gbucket", F.pmod(F.hash(gkey), F.lit(self.n_buckets))
        )

    def _apply_rollup_delta(self, delta: DataFrame, path: str) -> None:
        """Merge a (group → ±n_rows, ±sum_cents) delta into the at-rest
        rollup: read ONLY the group-buckets the delta touches, add, drop
        emptied groups, rewrite those buckets — O(touched groups).

        r18: the rewrite is a staged write + directory rename (one job)
        instead of an eager checkpoint followed by a second write job —
        same swap discipline as the base-table merge."""
        rpath = path + ROLLUP_SUFFIX
        spec = self.rollup
        delta_b = self._rollup_gbucketed(delta)
        touched_g = [
            r["gbucket"] for r in delta_b.select("gbucket").distinct().collect()
        ]
        if not touched_g:
            return
        val_cols = [c for c in ("n_rows", "sum_cents") if c in delta.columns]
        has_roll = os.path.isdir(rpath) and any(
            d.startswith("gbucket=") for d in os.listdir(rpath)
        )
        if has_roll:
            current = self.spark.read.parquet(rpath).filter(
                F.col("gbucket").isin(touched_g)
            )
            merged_roll = current.unionByName(delta_b)
        else:
            merged_roll = delta_b
        merged_roll = (
            merged_roll.groupBy(*spec.group_cols, "gbucket")
            .agg(*[F.sum(c).cast("long").alias(c) for c in val_cols])
            .filter(F.col("n_rows") > 0)
        )
        rstage = rpath + ".staging"
        shutil.rmtree(rstage, ignore_errors=True)
        (
            merged_roll.repartition("gbucket")
            .write.mode("overwrite")
            .partitionBy("gbucket")
            .parquet(rstage)
        )
        self._persist_schema(merged_roll, rpath)
        _clear_gbuckets(rpath, touched_g)
        _adopt_partition_dirs(rstage, rpath, "gbucket=")

    def read_rollup(self, mapping: TableMapping) -> DataFrame:
        """Reader view of the maintained rollup: (group_cols…, n_rows
        [, sum_<value_col>]) — the AggregatingMergeTree read path. Scans
        |groups| rows; never touches the base table."""
        rpath = self._target_path(mapping) + ROLLUP_SUFFIX
        spec = self.rollup
        if not any(d.startswith("gbucket=") for d in os.listdir(rpath)):
            from pyspark.sql import types as T

            schema = T.StructType.fromJson(
                __import__("json").load(open(os.path.join(rpath, _SCHEMA_FILE)))
            )
            raw = local_frame(self.spark, [], schema)
        else:
            raw = self.spark.read.parquet(rpath)
        cols = [*spec.group_cols, F.col("n_rows")]
        if spec.value_col is not None:
            cols.append(
                (F.col("sum_cents") / F.lit(100.0)).alias(f"sum_{spec.value_col}")
            )
        return raw.select(*cols)

    def read(self, mapping: TableMapping) -> DataFrame:
        """Reader view of the replica: latest-per-key rows with
        tombstones filtered (the FINAL read rule — a key whose newest
        version is a delete marker is absent).

        A replica with no parquet files yet (cdc_only before the first
        batch) serves the empty table from the persisted schema instead
        of failing the scan."""
        path = self._target_path(mapping)
        if not any(d.startswith("bucket=") for d in os.listdir(path)):
            df = local_frame(
                self.spark, [], self._sidecar_schema(path)
            ).drop("bucket")
        else:
            df = self._read_with_sidecar_schema(path).drop("bucket")
        if OP_COLUMN in df.columns:
            df = df.filter(
                F.coalesce(F.col(OP_COLUMN), F.lit("")) != DELETE_OP
            ).drop(OP_COLUMN)
        return df

    def _sidecar_schema(self, path: str):
        import json

        from pyspark.sql import types as T

        with open(os.path.join(path, _SCHEMA_FILE)) as f:
            return T.StructType.fromJson(json.load(f))

    def _read_with_sidecar_schema(self, path: str) -> DataFrame:
        """Scan the bucketed table under the DECLARED (sidecar) schema —
        the per-bucket parquet schemas legitimately diverge once
        tombstone retention adds _op to touched buckets only."""
        return self.spark.read.schema(self._sidecar_schema(path)).parquet(path)

    def _persist_schema(self, df: DataFrame, path: str) -> None:
        import json

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, _SCHEMA_FILE), "w") as f:
            json.dump(df.schema.jsonValue(), f)


def _adopt_partition_dirs(stage: str, path: str, prefix: str) -> None:
    """Move a staged write's partition directories into the live table
    (the touched partitions were cleared just before) — a metadata-scale
    swap, the local twin of a Hive partition swap / Iceberg overwrite
    commit. The staging scaffold (e.g. _SUCCESS) is discarded."""
    os.makedirs(path, exist_ok=True)
    if os.path.isdir(stage):
        for d in os.listdir(stage):
            if d.startswith(prefix):
                target = os.path.join(path, d)
                shutil.rmtree(target, ignore_errors=True)
                os.rename(os.path.join(stage, d), target)
    shutil.rmtree(stage, ignore_errors=True)


def _clear_gbuckets(path: str, gbuckets: list[int]) -> None:
    for b in gbuckets:
        d = os.path.join(path, f"gbucket={b}")
        if os.path.isdir(d):
            shutil.rmtree(d)


def _clear_buckets(path: str, buckets: list[int]) -> None:
    """Remove the partition directories for the touched buckets — a
    metadata-scale operation (O(buckets), not O(data)); on a cluster this
    is the table-format delete (Hive partition drop / Iceberg overwrite)."""
    import shutil

    for b in buckets:
        d = os.path.join(path, f"bucket={b}")
        if os.path.isdir(d):
            shutil.rmtree(d)
