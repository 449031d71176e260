"""Parquet-backed warehouse with INSERT IGNORE append semantics.

The reference's warehouse is MySQL with UNIQUE-key INSERT IGNORE
(src/lambda_2.py:205-238); ours is parquet directories with anti-join
dedup before every append — the same idempotency contract, columnar.
A real deployment would swap the format for Delta/Iceberg and the
anti-join for MERGE; the interface here is format-agnostic.

Fact-scale path (r4): ``insert_ignore``/``update_rows`` take a
``partition_by=`` mode (e.g. ``["episode_id"]``) that keeps the table
hive-partitioned and touches ONLY the partitions present in the
incoming batch — the anti-join/merge reads are partition-pruned and
the update write uses dynamic partition overwrite, so a one-episode
load against a 100 TB sentence/entity table reads and rewrites one
partition, not the table.  A table's layout is PINNED by its first
write (r5): every later write's ``partition_by`` must match the
on-disk layout (inferred from the ``key=value`` dir structure) or the
call raises — mixed-layout dirs break Spark's partition discovery.  The reference's sentence/entity loads
(src/lambda_71.py:103-121, src/lambda_2.py:205-238) are exactly this
shape: every batch targets a single episode.

Surrogate keys: ``AUTO_INCREMENT`` is emulated with
``row_number().over(Window.orderBy(natural_key)) + max(existing)`` —
deterministic given the natural key (SURVEY §7.4.1).  The global
window is single-partition: fine for dimension tables (podcasts,
episodes — thousands of rows), NOT for fact-scale data; fact tables
(sentence/entity) key on natural composite keys instead, and their
surrogate ids are zipWithIndex-free dense ranks per partition batch.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas
from ..operators.aggregates import dedup_insert
from ..operators.scale import materialize

DIM_SCHEMAS = {
    "time_dimension": schemas.TIME_DIM,
    "podcast_dimension": schemas.PODCAST_DIM,
    "episode_dimension": schemas.EPISODE_DIM,
    "sentence_dimension": schemas.SENTENCE_DIM,
    "entity_dimension": schemas.ENTITY_DIM,
}


def _local_root(root: str) -> str:
    """The warehouse directory as a local path.  ``exists`` and
    ``_disk_layout`` inspect the table dirs with ``os``, so a
    ``file:`` URI maps to its path, and any other scheme raises: on a
    remote root every table would read as absent and INSERT IGNORE
    would silently degrade to a blind append of duplicates."""
    parsed = urlparse(root)
    if parsed.scheme == "file":
        return unquote(parsed.path)
    if parsed.scheme:
        raise ValueError(
            f"warehouse root {root!r}: only local paths and file: URIs "
            f"are supported (INSERT IGNORE reads the table dirs with "
            f"the local filesystem)"
        )
    return root


class Warehouse:
    """A directory of parquet tables with idempotent appends."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = _local_root(root)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        if not os.path.exists(p):
            return False
        # walk: hive-partitioned tables keep files under key=value dirs
        for _, _, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _disk_layout(self, table: str) -> list[str] | None:
        """Infer the table's committed partition layout from its
        directory structure: hive-partitioned writes nest parquet
        files under ``key=value`` dirs, flat writes keep them at the
        root.  Returns ``None`` when the table doesn't exist yet, else
        the ordered partition-column list (``[]`` = flat).  Inference
        (vs a sidecar meta file) also covers tables written by earlier
        code versions or by external writers."""
        if not self.exists(table):
            return None
        layout: list[str] = []
        cur = self.path(table)
        while True:
            entries = [
                e for e in os.listdir(cur) if not e.startswith(("_", "."))
            ]
            files = [e for e in entries if e.endswith(".parquet")]
            partdirs = [
                e
                for e in entries
                if "=" in e and os.path.isdir(os.path.join(cur, e))
            ]
            if partdirs and files:
                raise ValueError(
                    f"{table}: mixed layout on disk — both parquet files "
                    f"and partition dirs {sorted(partdirs)[:3]} under "
                    f"{cur}; the table needs a rewrite before further "
                    f"appends"
                )
            if not partdirs:
                return layout
            keys = {e.split("=", 1)[0] for e in partdirs}
            if len(keys) != 1:
                raise ValueError(
                    f"{table}: conflicting partition keys {sorted(keys)} "
                    f"at one level under {cur}"
                )
            layout.append(keys.pop())
            cur = os.path.join(cur, partdirs[0])

    def _check_layout(
        self, table: str, partition_by: list[str] | None
    ) -> None:
        """Refuse writes whose ``partition_by`` disagrees with the
        table's committed on-disk layout (r4 VERDICT "do this" #4): an
        append in the other layout silently mixes root-level files
        with ``key=value`` dirs, after which partition discovery fails
        or drops the partition column."""
        disk = self._disk_layout(table)
        if disk is None:
            return
        want = list(partition_by or [])
        if disk != want:
            raise ValueError(
                f"{table}: on-disk layout is partition_by={disk or None} "
                f"but this write requested partition_by={want or None} — "
                f"mixing layouts in one table dir corrupts partition "
                f"discovery; rewrite the table to change its layout"
            )

    def _normalize(self, df: DataFrame, table: str) -> DataFrame:
        """Project to declared schema order/types — partitioned reads
        return partition columns last with directory-inferred types
        (episode_id comes back INT from ``episode_id=N`` dirs)."""
        sch = DIM_SCHEMAS[table]
        return df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in sch.fields]
        )

    def read(self, table: str) -> DataFrame:
        if self.exists(table):
            return self._normalize(
                self.spark.read.parquet(self.path(table)), table
            )
        return self.spark.createDataFrame([], DIM_SCHEMAS[table])

    def _read_touched(
        self, table: str, partition_by: list[str], batch: DataFrame
    ) -> DataFrame:
        """Read ONLY the partitions whose ``partition_by`` values appear
        in ``batch`` — the filter lands on the raw partition columns, so
        it prunes at the source listing (untouched partitions are never
        listed, let alone scanned).  Touched values are collected
        driver-side: by the load pattern a batch targets a handful of
        episodes (the reference: exactly one per message), never the
        fact table's full key space.  With multiple partition columns
        the per-column isin over-selects to the cross product of
        touched values — still pruned, and both callers re-key on the
        full natural key so over-selection is correctness-neutral.
        """
        if not self.exists(table):
            return self.spark.createDataFrame([], DIM_SCHEMAS[table])
        raw = self.spark.read.parquet(self.path(table))
        for c in partition_by:
            vals = [r[0] for r in batch.select(c).distinct().collect()]
            raw = raw.filter(F.col(c).isin(vals))
        return self._normalize(raw, table)

    def insert_ignore(
        self,
        table: str,
        incoming: DataFrame,
        partition_by: list[str] | None = None,
    ) -> int:
        """Append rows whose natural key is new (INSERT IGNORE, A7).

        Returns the number of rows appended.  Re-delivery of the same
        batch is a no-op — the idempotency contract every stage of the
        reference relies on (FIFO dedup + INSERT IGNORE).

        ``partition_by`` (fact-scale mode, r4): keep the table
        hive-partitioned on those columns; the anti-join reads only
        the partitions the batch touches instead of the whole table.
        Must be a subset of the natural key (sentence/entity keys both
        include episode_id) — that containment is what makes the
        pruned anti-join equivalent to the full one.
        """
        keys = schemas.NATURAL_KEYS[table]
        self._check_layout(table, partition_by)
        if partition_by:
            missing = [c for c in partition_by if c not in keys]
            if missing:
                raise ValueError(
                    f"insert_ignore(partition_by={partition_by}): "
                    f"{missing} not in natural key {keys} — pruned "
                    f"dedup would miss existing rows"
                )
            existing = self._read_touched(table, partition_by, incoming)
        else:
            existing = self.read(table)
        fresh = dedup_insert(existing, incoming, keys)
        n = fresh.count()
        if n:
            writer = fresh.select(
                *[f.name for f in DIM_SCHEMAS[table].fields]
            ).write.mode("append")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(self.path(table))
        return n

    def update_rows(
        self,
        table: str,
        updates: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
    ) -> int:
        """Keyed column UPDATE (src/lambda_3.py:127-133's ``UPDATE …
        SET downloaded=TRUE, num_chunks=N``).

        Non-key columns of ``updates`` replace the stored values for
        matching keys; rows with no update and columns not present in
        ``updates`` are untouched (null update values keep the stored
        value).  Parquet has no in-place update, so this is
        read → merge → overwrite with the lineage broken by an eager
        localCheckpoint; a production deployment swaps this for a
        Delta/Iceberg ``MERGE`` — the call signature is the contract.
        Returns the number of matched (updated) rows.

        Default mode reads and rewrites the WHOLE table — dim-only
        (thousands of rows).  ``partition_by`` (fact-scale mode, r4):
        only the partitions the batch touches are read (pruned at the
        source), merged, and rewritten via DYNAMIC partition overwrite
        — untouched partitions' files are never opened or replaced, so
        the same API scales to the reference's fact-sized sentence/
        entity loads (src/lambda_71.py:103-121) without Delta/Iceberg.
        ``partition_by`` must be a subset of ``keys`` so every update
        row can only match rows inside its own partition.
        """
        self._check_layout(table, partition_by)
        if partition_by:
            missing = [c for c in partition_by if c not in keys]
            if missing:
                raise ValueError(
                    f"update_rows(partition_by={partition_by}): "
                    f"{missing} not in match keys {keys} — an update "
                    f"row could match rows outside its own partition"
                )
            existing = self._read_touched(table, partition_by, updates)
        else:
            existing = self.read(table)
        upd_cols = [c for c in updates.columns if c not in keys]
        aliased = updates.select(
            *keys, *[F.col(c).alias(f"_u_{c}") for c in upd_cols]
        )
        n_matched = existing.join(F.broadcast(aliased), keys, "left_semi").count()
        merged = existing.join(F.broadcast(aliased), keys, "left")
        for c in upd_cols:
            merged = merged.withColumn(c, F.coalesce(F.col(f"_u_{c}"), F.col(c)))
        merged = merged.select(*[f.name for f in DIM_SCHEMAS[table].fields])
        if self.exists(table):
            # break lineage so the overwrite doesn't read its own input
            merged = materialize(merged)
        writer = merged.write.mode("overwrite")
        if partition_by:
            # dynamic mode: only partitions present in `merged` are
            # replaced; everything else on disk is left untouched
            writer = writer.partitionBy(*partition_by).option(
                "partitionOverwriteMode", "dynamic"
            )
        writer.parquet(self.path(table))
        return n_matched

    def next_surrogate_base(self, table: str, id_col: str) -> int:
        existing = self.read(table)
        row = existing.agg(F.max(id_col).alias("m")).collect()[0]
        return (row["m"] or 0) + 1


def with_surrogate_key(
    df: DataFrame,
    id_col: str,
    natural_order: list[str],
    base: int = 1,
) -> DataFrame:
    """Deterministic AUTO_INCREMENT emulation (SURVEY §7.4.1).

    row_number over the natural UNIQUE key, offset by the current max —
    reruns over the same input produce identical ids.  Single-partition
    global sort: dimension-scale only (documented; fact tables use
    composite natural keys).
    """
    w = Window.orderBy(*natural_order)
    return df.withColumn(
        id_col, (F.row_number().over(w) + F.lit(base - 1)).cast("long")
    )
