"""Parquet-backed table store with idempotent key-based upsert.

Production target is Iceberg (``MERGE INTO documents USING updates ON
doc_id`` etc. — SURVEY.md §2.1 S8-S15); this container has no Iceberg
runtime jars, so the same contract is provided over plain parquet.
All row identities are content hashes (doc_id/claim_id/fact_id), so re-running
any partition of any stage and upserting again is a no-op — that is the
checkpoint/resume story the north rule requires.

Two layouts:

* legacy (``buckets=None``): ``upsert`` rewrites the whole table as
  (existing ANTI-JOIN updates) UNION updates — simple, O(store) per batch.
* hash-bucketed (``buckets=N``): rows live in ``__bucket=K/`` partition dirs
  keyed by xxhash64 of the upsert key. An upsert first writes its
  deduplicated updates, bucket-partitioned, to a store-owned sibling dir
  (``name.__updates__``), then reads ONLY the buckets found there (partition
  pruning on the scan) and rewrites ONLY those bucket dirs (dynamic
  partition overwrite) — per-batch cost scales with the batch's touched
  buckets, not the store, which is the parquet analog of an Iceberg MERGE
  at 10^12-row store scale. Iceberg additionally gives atomic snapshot
  commits; dynamic overwrite swaps each touched bucket dir non-atomically,
  an accepted stand-in here.

Each bucketed table records its layout (bucket count, hash keys) and its
schema in ``_LAYOUT.json``, so reads skip Spark's parquet schema-inference
job. Full-table writes go to a temp dir then swap, so a killed job never
leaves a half-written table.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

BUCKET_COL = "__bucket"
LAYOUT_FILE = "_LAYOUT.json"
UPDATES_SUFFIX = ".__updates__"


class TableStore:
    def __init__(self, root: str | Path, *, buckets: int | None = None) -> None:
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.buckets = buckets

    def path(self, table: str) -> Path:
        return self.root / table

    def exists(self, table: str) -> bool:
        self._recover(table)
        return self.path(table).exists()

    def list_tables(self) -> list[str]:
        """Published table names: every table dir in the store root, with
        swap/compaction/upsert staging dirs (``name.__tmp__``,
        ``name.__updates__`` etc.) and hidden
        working dirs (``_staging`` and friends — the parquet hidden-path
        convention) excluded."""
        return sorted(
            p.name
            for p in self.root.iterdir()
            if p.is_dir() and ".__" not in p.name and not p.name.startswith(("_", "."))
        )

    # -- crash recovery ----------------------------------------------------
    def _recover(self, table: str) -> None:
        """Heal the two-step swap windows (overwrite/compact rename the old
        table aside before publishing the new one). If a crash left the
        table path absent, restore it from, in order of preference:

        * ``.__old__`` — the pre-swap table, always complete by construction;
        * a COMPLETE staged dir (``.__tmp__``/``.__compact__`` carrying
          Spark's ``_SUCCESS`` marker) — the post-swap content;
        * a bucketed upsert's ``.__updates__`` dir that carries both
          ``_SUCCESS`` and its layout record: the create path writes that
          record only just before renaming the dir into place, so such a
          dir IS the new table. Staged updates for an existing table never
          get a layout record and are never adopted.

        Without this, a killed compaction made ``read`` silently return an
        empty table and a later upsert recreated it fresh — permanent data
        loss with no error (round-4 advice, store.py compact window)."""
        target = self.path(table)
        if target.exists():
            return
        aside = target.with_name(target.name + ".__old__")
        if aside.exists():
            aside.rename(target)
            return
        for suffix in (".__compact__", ".__tmp__"):
            staged = target.with_name(target.name + suffix)
            if staged.exists() and (staged / "_SUCCESS").exists():
                staged.rename(target)
                return
        staged = target.with_name(target.name + UPDATES_SUFFIX)
        if (staged / "_SUCCESS").exists() and (staged / LAYOUT_FILE).exists():
            staged.rename(target)

    def _swap_in(self, tmp: Path, target: Path) -> None:
        """Publish ``tmp`` as ``target`` without a window where the table
        path is absent-and-unrecoverable: rename the old table aside, then
        the new one into place, then drop the aside. A crash at any point
        leaves either the target or a recoverable aside/staged dir for
        ``_recover``."""
        aside = target.with_name(target.name + ".__old__")
        if aside.exists():  # stale from an earlier crash; target exists, so it lost
            shutil.rmtree(aside)
        if target.exists():
            target.rename(aside)
        tmp.rename(target)
        if aside.exists():
            shutil.rmtree(aside)

    # -- layout metadata ---------------------------------------------------
    def _write_layout(
        self, target: Path, layout_keys: list[str], schema: StructType | None = None
    ) -> None:
        record = {"version": 1, "buckets": self.buckets, "layout_keys": layout_keys}
        if schema is not None:
            # the full row type incl. the int __bucket partition column, as
            # Spark's own inference would report it
            record["schema"] = schema.jsonValue()
        (target / LAYOUT_FILE).write_text(json.dumps(record))

    def _read_layout(self, table: str) -> dict | None:
        p = self.path(table) / LAYOUT_FILE
        if not p.exists():
            return None
        return json.loads(p.read_text())

    def _check_layout(self, table: str, layout_keys: list[str]) -> None:
        """Bucketed dirs are only prunable if reader and writer agree on the
        hash inputs; a silent mismatch (e.g. a pre-``batch_seq`` index laid
        out by (doc_id, band) probed by (band, bucket)) reads the WRONG dirs
        and misses rows with no error. Fail loudly instead."""
        rec = self._read_layout(table)
        if rec is None:
            raise ValueError(
                f"bucketed table {table!r} has no {LAYOUT_FILE}: it predates layout "
                "versioning (or was written externally); rebuild it or record its "
                "layout with adopt_layout() before upserting/probing"
            )
        if rec["buckets"] != self.buckets or rec["layout_keys"] != layout_keys:
            raise ValueError(
                f"bucketed table {table!r} layout mismatch: stored "
                f"(buckets={rec['buckets']}, keys={rec['layout_keys']}) vs requested "
                f"(buckets={self.buckets}, keys={layout_keys}); pruned reads against "
                "a differently-hashed layout would silently miss rows"
            )

    def adopt_layout(self, table: str, layout_keys: list[str]) -> None:
        """Explicit migration for tables written before layout versioning:
        records the layout the caller asserts the dirs were hashed by."""
        self._write_layout(self.path(table), layout_keys)

    def _scan(self, spark: SparkSession, table: str) -> DataFrame:
        """The table's parquet files, ``__bucket`` column included. A table
        whose layout record carries a schema is read with it, which skips
        the schema-inference job Spark otherwise runs per read; tables
        recorded without one (``adopt_layout``, older stores) still infer."""
        rec = self._read_layout(table)
        reader = spark.read
        if rec is not None and "schema" in rec:
            reader = reader.schema(StructType.fromJson(rec["schema"]))
        return reader.parquet(str(self.path(table)))

    def read(self, spark: SparkSession, table: str, schema: StructType | None = None) -> DataFrame:
        if not self.exists(table):
            if schema is None:
                raise FileNotFoundError(f"table {table} does not exist and no schema given")
            return spark.createDataFrame([], schema)
        df = self._scan(spark, table)
        # bucketed tables surface the partition dir as a column; the layout
        # is an implementation detail, not part of the table contract
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def overwrite(self, df: DataFrame, table: str) -> None:
        self._recover(table)
        target = self.path(table)
        tmp = target.with_name(target.name + ".__tmp__")
        if tmp.exists():
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(str(tmp))
        self._swap_in(tmp, target)

    def append(self, df: DataFrame, table: str) -> None:
        # recover first: appending while the table path is absent after a
        # crashed swap would recreate it fresh and orphan the complete
        # .__old__ copy (silently rmtree'd by the next swap) — the same
        # loss window _recover closes for read/overwrite/upsert/compact
        self._recover(table)
        df.write.mode("append").parquet(str(self.path(table)))

    def _bucket_expr(self, keys: list[str]) -> Column:
        key = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
        return F.pmod(F.xxhash64(key), F.lit(self.buckets)).cast("int")

    def upsert(
        self, df: DataFrame, table: str, keys: list[str], *, layout_keys: list[str] | None = None
    ) -> None:
        """Iceberg-MERGE-equivalent: updates win over existing rows on key.

        Legacy layout rewrites the whole table. Bucketed layout writes the
        deduplicated updates once, bucket-partitioned, to the store-owned
        sibling dir ``name.__updates__``. That write pins the updates: a
        nondeterministic upstream is evaluated exactly once, so the touched
        bucket set (the ``__bucket=K`` dirs listed there, no Spark job) and
        the rows that overwrite those buckets can never disagree — otherwise
        dynamic overwrite could drop a bucket's pre-existing rows. Then:

        * table absent: record the layout and schema in the staged dir and
          rename it into place (``_recover`` adopts it if a crash lands
          between the two);
        * table present: anti-join the touched buckets of the table (read
          with its recorded schema) against the staged keys, union the
          staged rows, and rewrite only those bucket dirs with dynamic
          partition overwrite.

        With the input read from parquet that is at most four Spark jobs:
        the dedupe shuffle and the staged write, then the broadcast of the
        staged keys and the merge write. The staged dir is removed whether
        the upsert succeeds or fails.

        ``layout_keys`` decouples the partition-dir hash from the upsert
        identity: lay the table out by the columns the READ side probes on
        (e.g. an LSH index keyed (doc_id, band) but probed by (band, bucket))
        so point reads prune too, not just writes. Requires content-immutable
        rows — a key's layout-column values must never change across upserts,
        which holds for this store's hash-identity tables; otherwise a stale
        row could survive in a dir the new version's hash no longer touches.
        """
        spark = df.sparkSession
        if self.buckets is None:
            if not self.exists(table):
                self.overwrite(df.dropDuplicates(keys), table)
                return
            existing = self.read(spark, table)
            kept = existing.join(df.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")
            merged = kept.unionByName(df.dropDuplicates(keys), allowMissingColumns=True)
            self.overwrite(merged, table)
            return

        layout_keys = layout_keys or keys
        self._recover(table)
        target = self.path(table)
        rec = None
        if target.exists():
            self._check_layout(table, layout_keys)
            rec = self._read_layout(table)
        updates = df.dropDuplicates(keys).withColumn(BUCKET_COL, self._bucket_expr(layout_keys))
        staged = target.with_name(target.name + UPDATES_SUFFIX)
        if staged.exists():
            shutil.rmtree(staged)
        try:
            updates.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(str(staged))
            touched = sorted(
                int(p.name.split("=", 1)[1])
                for p in staged.iterdir()
                if p.name.startswith(BUCKET_COL + "=")
            )
            if not touched:
                # an empty batch is a no-op; creating a table from it would
                # leave a partitioned dir with no parquet files (unreadable)
                return
            if rec is None:
                # the layout record rides inside the staged dir BEFORE the
                # publish rename: a crash after the rename (or a _recover
                # that adopts the staged dir) never yields a bucketed table
                # without its layout record
                self._write_layout(staged, layout_keys, updates.schema)
                staged.rename(target)
                return
            staged_rows = spark.read.schema(updates.schema).parquet(str(staged))
            existing = self._scan(spark, table).filter(F.col(BUCKET_COL).isin(touched))
            # staged rows are already one per key: no dedupe on this side
            kept = existing.join(staged_rows.select(*keys), on=keys, how="left_anti")
            merged = kept.unionByName(staged_rows, allowMissingColumns=True)
            recorded = StructType.fromJson(rec["schema"]) if "schema" in rec else None
            if recorded is not None and merged.schema.simpleString() != recorded.simpleString():
                # schema evolution (e.g. a new column): record the wider
                # schema BEFORE writing rows that carry it, so a crash
                # between the two can only add typed-null reads
                self._write_layout(target, layout_keys, merged.schema)
            (
                merged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(BUCKET_COL)
                .parquet(str(target))
            )
        finally:
            if staged.exists():
                shutil.rmtree(staged)

    def read_pruned(
        self,
        spark: SparkSession,
        table: str,
        layout_values: DataFrame,
        schema: StructType | None = None,
        *,
        layout_keys: list[str] | None = None,
    ) -> DataFrame:
        """Read only the bucket dirs the given layout-key rows hash into.

        ``layout_values`` holds the probe side's layout columns (e.g. the
        batch's (band, bucket) pairs); the touched bucket-id set is bounded
        by ``self.buckets`` — a scalar list, never data-sized — and the scan
        prunes to those ``__bucket=K/`` dirs, the read-side twin of the
        upsert's touched-bucket pruning. Falls back to a full read for
        legacy (unbucketed) layouts, and REFUSES to prune a bucketed table
        whose recorded layout differs from the probe's (a mismatched hash
        would silently read the wrong dirs and miss rows). When ``schema``
        is given the result is reconciled to it — missing columns (a table
        written before a schema evolution, e.g. pre-``batch_seq`` index
        rows) surface as typed nulls instead of an AnalysisException.
        """
        if self.buckets is None or not self.exists(table):
            return _reconcile(self.read(spark, table, schema), schema)
        keys = layout_keys or layout_values.columns
        self._check_layout(table, keys)
        touched = sorted(
            r[0]
            for r in layout_values.select(self._bucket_expr(keys).alias(BUCKET_COL))
            .distinct()
            .collect()
        )
        df = self._scan(spark, table).filter(F.col(BUCKET_COL).isin(touched))
        df = df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df
        return _reconcile(df, schema)

    def compact(self, spark: SparkSession, table: str, *, keep: Column | None = None) -> None:
        """Maintenance rewrite (Iceberg's rewrite_data_files analog): every
        keyed upsert appends one file-set into each touched bucket dir, so a
        long-running ingest accumulates many small files per dir and scan
        cost creeps up. Compaction rewrites the table so each bucket dir
        holds one file (rows and bucket assignment unchanged), via a temp
        dir + rename-aside swap so a killed compaction never corrupts the
        table: the old table is renamed aside before the new one lands and
        ``_recover`` restores whichever complete copy survives a crash.
        Unbucketed tables collapse to a single file.

        ``keep`` optionally filters rows during the rewrite (rows where the
        predicate is false are dropped) — the eviction/TTL primitive for
        unbounded state tables (e.g. the streaming LSH index, keyed by
        ``batch_seq``); layout and bucket assignment of surviving rows are
        unchanged, so pruned reads keep working."""
        self._recover(table)
        target = self.path(table)
        if not target.exists():
            return
        df = self._scan(spark, table)
        if keep is not None:
            df = df.filter(keep)
        partitioned = self.buckets is not None and BUCKET_COL in df.columns
        if partitioned and df.isEmpty():
            # a partitionBy write of zero rows leaves a dir with no parquet
            # files — unreadable (UNABLE_TO_INFER_SCHEMA) and it wedges
            # every later read/upsert. Zero survivors (e.g. a TTL horizon
            # past the newest batch) instead drops the table: schema'd
            # reads (read/read_pruned with schema) treat absent as
            # typed-empty and the next upsert recreates it with a fresh
            # layout record. A crash mid-delete can only leave extra rows
            # that were due for eviction anyway (re-dropped by the next
            # compact) or a layout-less remnant that fails loudly — never
            # silent loss.
            shutil.rmtree(target)
            return
        tmp = target.with_name(target.name + ".__compact__")
        if tmp.exists():
            shutil.rmtree(tmp)
        layout = self._read_layout(table)
        if partitioned:
            # hash-repartition ON the bucket value: each task owns whole
            # buckets, so every dir is written by exactly one task -> one file
            (
                df.repartition(self.buckets, F.col(BUCKET_COL))
                .write.mode("overwrite")
                .partitionBy(BUCKET_COL)
                .parquet(str(tmp))
            )
        else:
            df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        if layout is not None:  # layout record rides along through the rewrite
            (tmp / LAYOUT_FILE).write_text(json.dumps(layout))
        self._swap_in(tmp, target)

    def drop(self, table: str) -> None:
        target = self.path(table)
        for p in (
            target,
            target.with_name(target.name + ".__old__"),
            target.with_name(target.name + ".__tmp__"),
            target.with_name(target.name + ".__compact__"),
            target.with_name(target.name + UPDATES_SUFFIX),
        ):
            if p.exists():
                shutil.rmtree(p)


def _reconcile(df: DataFrame, schema: StructType | None) -> DataFrame:
    """Project ``df`` onto ``schema``: missing columns become typed nulls,
    extra columns are dropped. No-op when no schema is requested."""
    if schema is None:
        return df
    cols = [
        F.col(f.name).cast(f.dataType) if f.name in df.columns else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return df.select(cols)
