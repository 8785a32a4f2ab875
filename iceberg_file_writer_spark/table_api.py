"""One-object handle on a snapshot table [extension — not in reference].

The storage layer's verbs live across focused modules (snapshots,
deletion_vectors, equality_deletes, partitioning, bloom_index, tags,
inspect, maintenance, sql_dml). That layout keeps each contract small,
but a USER porting from a table-format API (Iceberg's ``Table``,
Delta's ``DeltaTable``) expects one discoverable object. This facade
is exactly that — a thin, stateless binding of (spark, path) to the
existing verbs: no new semantics, no state beyond the two fields, so
every contract (optimistic commits, MoR scoping, spec re-application,
exactly-once ledgers) is the underlying module's, already tested
there. Facade-level tests pin delegation equivalence.

    t = SnapshotTable.create(spark, path, df)          # genesis append
    t.append(df2)
    t.delete_where("v > 3", mode="mor")
    t.update_where("k = 7", {"v": "v * 2"})
    t.upsert(changes, keys=["k"])                      # one-commit MoR
    df = t.read()                                      # current, MoR-applied
    df = t.read(version=3); df = t.read(asof_ms=ts)    # time travel
    df = t.scan([("k", "in", [1, 2, 3])])              # file-skipping read
    t.sql("DELETE FROM t WHERE k = 9")                 # DML statement text
    t.tag("training-freeze-v1"); t.read_tag(...)
    t.compact(); t.vacuum(keep_last=2)
    t.history(); t.inspect("files"); t.clustering_report()
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.name = os.path.basename(path.rstrip("/")) or "t"

    # -- constructors --------------------------------------------------
    @classmethod
    def by_name(cls, spark: SparkSession, name: str, catalog) -> "SnapshotTable":
        """Open a table by its warehouse-catalog name (``catalog`` is a
        ``catalog.Catalog`` or a warehouse directory path) — the
        object-API face of the durable name registry."""
        from iceberg_file_writer_spark.catalog import Catalog

        cat = Catalog(catalog) if isinstance(catalog, str) else catalog
        t = cls(spark, cat.resolve(name))
        t.name = name
        return t

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: "DataFrame | None" = None,
        spec: "list | None" = None,
        max_rows: int = 4096,
    ) -> "SnapshotTable":
        """New table at ``path``; optional genesis data and hidden-
        partition spec (spec'd tables cluster every later write too)."""
        t = cls(spark, path)
        if df is None and spec:
            # the spec would otherwise be silently discarded (ADVICE r9):
            # specs persist in manifests, and a dataless create has no
            # commit to carry one
            raise ValueError(
                "create(spec=...) needs genesis data — the spec persists "
                "with the first commit; create the table with df or use "
                "commit_append_partitioned on the first batch"
            )
        if df is not None:
            if spec:
                from iceberg_file_writer_spark.ingest.partitioning import (
                    commit_append_partitioned,
                )

                commit_append_partitioned(spark, df, path, spec, max_rows=max_rows)
            else:
                t.append(df, max_rows=max_rows)
        return t

    # -- reads ----------------------------------------------------------
    def read(
        self, version: "int | None" = None, asof_ms: "int | None" = None
    ) -> DataFrame:
        from iceberg_file_writer_spark.ingest.snapshots import (
            read_table_asof,
            read_table_version,
        )

        if asof_ms is not None:
            return read_table_asof(self.spark, self.path, asof_ms)
        return read_table_version(self.spark, self.path, version)

    def scan(self, conjuncts: list, version: "int | None" = None) -> DataFrame:
        """File-skipping read (stats + bloom + hidden transforms) —
        row-identical to ``read().where(...)``, provably fewer files.

        One planner serves every layout (``file_skipping.scan_table``):
        it plans with the manifest of the version BEING read, so a
        time-travel scan across a spec change or a column mapping uses
        that snapshot's own layout."""
        from iceberg_file_writer_spark.ingest.file_skipping import scan_table

        return scan_table(self.spark, self.path, conjuncts, version)

    def changes(self, from_version: int, to_version: int) -> DataFrame:
        from iceberg_file_writer_spark.ingest.snapshots import changes_between

        return changes_between(self.spark, self.path, from_version, to_version)

    def read_tag(self, name: str) -> DataFrame:
        from iceberg_file_writer_spark.ingest.tags import read_tag

        return read_tag(self.spark, self.path, name)

    # -- writes ---------------------------------------------------------
    def append(self, df: DataFrame, max_rows: int = 4096) -> int:
        from iceberg_file_writer_spark.ingest.snapshots import commit_append

        return commit_append(self.spark, df, self.path, max_rows=max_rows)

    def delete_where(self, predicate: str, mode: str = "cow") -> int:
        if mode == "mor":
            from iceberg_file_writer_spark.ingest.deletion_vectors import (
                commit_delete_where_mor,
            )

            return commit_delete_where_mor(self.spark, self.path, predicate)
        if mode != "cow":
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        from iceberg_file_writer_spark.ingest.snapshots import commit_delete_where

        return commit_delete_where(self.spark, self.path, predicate)

    def update_where(
        self, predicate: str, assignments: "dict[str, str]",
        max_rows: int = 4096,
    ) -> int:
        from iceberg_file_writer_spark.ingest.snapshots import commit_update_where

        return commit_update_where(
            self.spark, self.path, predicate, assignments, max_rows=max_rows
        )

    def merge(self, updates: DataFrame, key: str, max_rows: int = 4096) -> int:
        """Copy-on-write whole-row upsert (rewrites affected files)."""
        from iceberg_file_writer_spark.ingest.snapshots import commit_merge

        return commit_merge(self.spark, self.path, updates, key, max_rows=max_rows)

    def upsert(
        self, updates: DataFrame, keys: "list[str]", max_rows: int = 4096
    ) -> int:
        """Merge-on-read one-commit upsert (O(batch); nothing rewritten)."""
        from iceberg_file_writer_spark.ingest.equality_deletes import commit_upsert

        return commit_upsert(self.spark, self.path, updates, keys, max_rows=max_rows)

    def query(self, statement: str) -> DataFrame:
        """SELECT over this table with time-travel syntax (sql_dml
        module doc): the table is addressable as ``t`` in the text."""
        from iceberg_file_writer_spark.sql_dml import execute_query

        return execute_query(self.spark, statement, {"t": self.path})

    def sql(self, statement: str, max_rows: int = 4096):
        """DML statement text against THIS table (its name in the
        statement is the path's basename — see module doc example)."""
        from iceberg_file_writer_spark.sql_dml import execute_dml

        return execute_dml(
            self.spark, statement, {self.name: self.path}, max_rows=max_rows
        )

    # -- maintenance ------------------------------------------------------
    def compact(
        self,
        target_rows: int = 65536,
        zorder_by: "tuple[str, str] | None" = None,
    ) -> int:
        from iceberg_file_writer_spark.ingest.snapshots import commit_compact

        return commit_compact(
            self.spark, self.path, target_rows=target_rows, zorder_by=zorder_by
        )

    def analyze(self, columns: "list[str] | None" = None) -> int:
        """Persist column statistics (ANALYZE TABLE); read via stats()."""
        from iceberg_file_writer_spark.ingest.snapshots import commit_analyze

        return commit_analyze(self.spark, self.path, columns)

    def stats(self, version: "int | None" = None) -> dict:
        from iceberg_file_writer_spark.ingest.snapshots import table_stats

        return table_stats(self.path, version)

    def rollback(self, to_version: int) -> int:
        from iceberg_file_writer_spark.ingest.snapshots import commit_rollback

        return commit_rollback(self.path, to_version)

    def vacuum(self, keep_last: int = 2, grace_seconds: int = 3600) -> dict:
        from iceberg_file_writer_spark.ingest.maintenance import vacuum

        return vacuum(self.path, keep_last=keep_last, grace_seconds=grace_seconds)

    def tag(self, name: str, version: "int | None" = None) -> int:
        from iceberg_file_writer_spark.ingest.tags import create_tag

        return create_tag(self.path, name, version)

    def attach_bloom(self, cols: "list[str]", fpp: float = 0.01) -> int:
        from iceberg_file_writer_spark.ingest.bloom_index import attach_bloom_index

        return attach_bloom_index(self.spark, self.path, cols, fpp=fpp)

    # -- metadata ---------------------------------------------------------
    def version(self) -> int:
        from iceberg_file_writer_spark.ingest.snapshots import current_version

        return current_version(self.path)

    def history(self) -> "list[dict]":
        from iceberg_file_writer_spark.ingest.snapshots import snapshot_log

        return snapshot_log(self.path)

    def inspect(self, kind: str = "snapshots") -> DataFrame:
        from iceberg_file_writer_spark.ingest.inspect import inspect_table

        return inspect_table(self.spark, self.path, kind)

    def clustering_report(self) -> dict:
        from iceberg_file_writer_spark.ingest.inspect import clustering_report

        return clustering_report(self.path)

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"SnapshotTable({self.path!r}, v{self.version()})"
