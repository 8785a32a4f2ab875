"""Manifest-level file skipping [extension — not in reference].

Every snapshot-table data file carries column min/max/null-count stats
in its manifest entry (``snapshots._file_stats`` — harvested from the
parquet footer the writer already parses, zero extra IO). This module
turns those into scan-time FILE PRUNING: a predicate like
``ts >= '2024-03-01'`` eliminates whole files before Spark ever lists
them — the Iceberg/Delta "data skipping" win, and at 100 TB the
difference between scanning a day and scanning a decade.

Semantics are conservative and exact: a file is skipped ONLY when its
stats PROVE no row can match (min/max disjoint from the predicate
range, or zero nulls for IS NULL); files with absent stats always
survive, and the residual predicate is still applied to the surviving
rows — so ``scan_table(...)`` is always row-identical to
``read_table_version(...).where(...)``, just cheaper. String min/max
prune with byte-order comparisons, matching Spark's BinaryComparison
on StringType.

Predicates are conjunction lists ``[(col, op, value), ...]`` with ops
``< <= > >= = != isnull notnull in`` — the same shapes engines push
into scans; ``conjuncts_to_sql`` renders the residual filter.

There is ONE planner, ``_plan_scan``, behind every conjunct read
(``scan_table`` and its old names ``partitioning.scan_partitioned`` and
``column_mapping.scan_mapped_partitioned``, ``SnapshotTable.scan``,
``snapshots.scan_pruned`` and the SQL surface's pruned read). It follows
Iceberg's scan planning (https://iceberg.apache.org/spec/#scan-planning):
the manifest of the version being read picks the layout, the layout
picks only the pruning function, and bloom sidecars prune last.

Reference scope note: the reference (/root/reference/main.go:47-54)
writes record files with no per-file statistics; this is the metadata
index a query layer builds above that write path. [extension]
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

_OPS = {"<", "<=", ">", ">=", "=", "!=", "isnull", "notnull", "in"}


def _file_can_match(stats: dict, col: str, op: str, value) -> bool:
    """False ONLY when the file's stats prove no row matches."""
    if op == "in":
        # SQL IN: NULL list members never match (x IN (NULL) is NULL,
        # filtered); an all-NULL/empty list matches no row — exact, not
        # conservative. Otherwise the file can match iff ANY member can.
        non_null = [v for v in (value or []) if v is not None]
        if not non_null:
            return False
        return any(_file_can_match(stats, col, "=", v) for v in non_null)
    st = stats.get(col)
    if st is None:
        return True  # no stats: cannot exclude
    lo, hi, *rest = st  # legacy backfilled entries may lack null counts
    nulls = rest[0] if rest else None
    if op == "isnull" and nulls is None:
        return True  # unknown null count: cannot exclude
    if op == "isnull":
        return nulls > 0
    if op == "notnull":
        return True  # min/max exist => at least one non-null value
    if not isinstance(value, type(lo)) and not (
        isinstance(value, (int, float))
        and isinstance(lo, (int, float))
        and not isinstance(value, bool)
        and not isinstance(lo, bool)
    ):
        return True  # incomparable literal: cannot exclude
    if op == "<":
        return lo < value
    if op == "<=":
        return lo <= value
    if op == ">":
        return hi > value
    if op == ">=":
        return hi >= value
    if op == "=":
        return lo <= value <= hi
    if op == "!=":
        return not (lo == hi == value)
    raise ValueError(f"unknown op: {op}")


def prune_files(files: list, conjuncts: list) -> list:
    """Manifest entries whose stats cannot rule out every conjunct."""
    for col, op, *rest in conjuncts:
        if op not in _OPS:
            raise ValueError(f"unknown op: {op}")
    out = []
    for e in files:
        stats = e.get("stats", {})
        if all(
            _file_can_match(stats, col, op, rest[0] if rest else None)
            for col, op, *rest in conjuncts
        ):
            out.append(e)
    return out


# Above this many manifest entries, stats pruning runs as a Spark job
# over the sealed segment files (executors parse + filter them; only
# KEPT entries return to the driver) instead of a driver-side Python
# loop. MEASURED (tools_metadata_bench.py, local[32], BASELINE.md
# round-10 table): the cold driver loop (json parse + resolve + prune)
# crosses the distributed path's cost between 10^5 and 3x10^5 entries
# (0.70s vs 1.12s at 100k; 2.59s vs 1.88s at 300k; 9.9s vs 7.6s at
# 1M), while the MEMO keeps the warm loop cheaper through 10^6 — so
# the threshold sits at the measured cold crossover. Below it the loop
# wins outright; above it the fan-out wins cold AND caps driver-side
# JSON materialization, which on a thin-driver/fat-fleet cluster (the
# 100 TB shape, where 195+ segments fan out to real executors instead
# of in-process threads) matters more than this box can show. Tests
# shrink it to exercise the path at sandbox scale.
DISTRIBUTED_PRUNE_THRESHOLD = 250_000


def prune_files_distributed(
    spark: SparkSession,
    table_path: str,
    segments: list,
    tail: list,
    conjuncts: list,
) -> list:
    """``prune_files`` semantics evaluated as a Spark job over the
    sealed manifest segment files: one text row per segment
    (wholetext), an Arrow-batched mapInPandas parses and filters the
    entries executor-side, and only survivors are collected. The inline
    tail (< one segment) prunes on the driver with the canonical loop.

    Executors under a plain driver session cannot import this package,
    so the module rides by value (the ``avro_py`` pattern) and the
    closure calls ``_file_can_match`` itself — one rule on both paths."""
    import json
    import os

    from pyspark import cloudpickle

    import iceberg_file_writer_spark.ingest.file_skipping as _self

    cloudpickle.register_pickle_by_value(_self)
    conj = [
        (c[0], c[1], c[2] if len(c) > 2 else None) for c in conjuncts
    ]
    for _col, op, _v in conj:
        if op not in _OPS:
            raise ValueError(f"unknown op: {op}")
    snap = os.path.join(table_path, "_snapshots")
    paths = [os.path.join(snap, s) for s in segments]

    def _prune(batches):
        import json as _json

        import pandas as _pd

        for pdf in batches:
            out = []
            for content in pdf["value"]:
                for e in _json.loads(content):
                    st = e.get("stats", {})
                    if all(
                        _file_can_match(st, col, op, v)
                        for col, op, v in conj
                    ):
                        out.append(_json.dumps(e))
            yield _pd.DataFrame({"e": out})

    kept_rows = (
        spark.read.text(paths, wholetext=True)
        .mapInPandas(_prune, "e string")
        .collect()
    )
    return [json.loads(r.e) for r in kept_rows] + prune_files(tail, conjuncts)


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        # Spark string literals treat backslash as an escape;
        # escape it and the quote so a value like O'Brien cannot
        # malform (or alter) the rendered predicate
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    return repr(v)


def conjuncts_to_sql(conjuncts: list) -> str:
    parts = []
    for col, op, *rest in conjuncts:
        if op == "isnull":
            parts.append(f"`{col}` IS NULL")
        elif op == "notnull":
            parts.append(f"`{col}` IS NOT NULL")
        elif op == "in":
            vals = list(rest[0] or [])
            if not vals:
                parts.append("false")  # IN () matches no row
            else:
                parts.append(
                    f"`{col}` IN ({', '.join(_sql_lit(v) for v in vals)})"
                )
        else:
            parts.append(f"`{col}` {op} {_sql_lit(rest[0])}")
    return " AND ".join(parts) if parts else "true"


class ScanPlan(NamedTuple):
    """What a conjunct read keeps: the resolved version, its manifest
    (the layout only, when the distributed prune ran), the kept entries
    and the snapshot's total entry count."""

    version: int
    manifest: dict
    kept: list
    total: int


def _plan_scan(
    spark: SparkSession,
    table_path: str,
    conjuncts: list,
    version: "int | None",
) -> ScanPlan:
    """The one file-skipping planner. The manifest of the version being
    read picks the layout, and the layout picks only the pruning
    function: column-mapped tables resolve each conjunct per file
    through field ids (``prune_entries_mapped``); plain and spec'd
    tables prune stats on the conjuncts plus the spec's hidden bucket
    probes (a plain table's spec is empty), on executors when a big
    segmented manifest crosses ``DISTRIBUTED_PRUNE_THRESHOLD``. Bloom
    sidecars then drop files the stats kept.

    ``snapshots.read_manifest`` and ``prune_files`` are looked up at call
    time, so a caller that wraps those module attributes sees every
    planning call."""
    from iceberg_file_writer_spark.ingest import snapshots
    from iceberg_file_writer_spark.ingest.bloom_index import bloom_prune
    from iceberg_file_writer_spark.ingest.partitioning import bucket_conjuncts

    v = snapshots.current_version(table_path) if version is None else version
    # One manifest read per plan once read_manifest's memo holds an
    # inline manifest. Otherwise the raw layout says whether a big
    # segmented manifest prunes on executors, and every other plan then
    # resolves it through read_manifest (whose memo keeps it).
    resolved = snapshots.manifest_memoized(table_path, v)
    if resolved:
        m = snapshots.read_manifest(table_path, v)
    else:
        m = snapshots.read_manifest_layout(table_path, v)
    segs = m.get("segments")
    # sealed segments hold exactly MANIFEST_SEGMENT_SIZE entries each,
    # so the total is known without resolving any of them
    total = (
        len(segs) * snapshots.MANIFEST_SEGMENT_SIZE + len(m.get("tail") or [])
        if segs
        else len(m.get("files") or [])
    )
    name_to_id = None
    if "columns" in m:
        from iceberg_file_writer_spark.ingest.column_mapping import (
            prune_entries_mapped,
        )

        if not resolved:
            m = snapshots.read_manifest(table_path, v)
        name_to_id = {name: cid for cid, name, _t in m["columns"]}
        for col, _op, *_rest in conjuncts:
            if col not in name_to_id:
                raise ValueError(f"no such column: {col}")
        kept = prune_entries_mapped(
            m["files"], conjuncts, m["columns"], m.get("spec")
        )
    else:
        probes = conjuncts + bucket_conjuncts(conjuncts, m.get("spec"))
        if segs and conjuncts and total > DISTRIBUTED_PRUNE_THRESHOLD:
            # big segmented manifest: executors parse + filter the sealed
            # chunks; the driver only ever sees the survivors
            kept = prune_files_distributed(
                spark, table_path, segs, m.get("tail") or [], probes
            )
        else:
            if not resolved:
                m = snapshots.read_manifest(table_path, v)
            kept = prune_files(m["files"], probes)
    if m.get("bloom"):
        kept = bloom_prune(
            table_path, m["bloom"], kept, conjuncts, name_to_id=name_to_id
        )
    return ScanPlan(v, m, kept, total)


def scan_table(
    spark: SparkSession,
    table_path: str,
    conjuncts: list,
    version: int | None = None,
) -> DataFrame:
    """Row-identical to the unpruned read of ``version`` filtered by
    ``conjuncts`` — ``read_table_version`` for plain and spec'd tables,
    ``read_mapped`` for column-mapped ones — but reads only the files
    ``_plan_scan`` keeps; hidden layout columns never surface. Exposes
    the kept/total file counts as ``scan_table.last_files = (kept,
    total)`` for observability."""
    from iceberg_file_writer_spark.ingest.column_mapping import _scan_mapped
    from iceberg_file_writer_spark.ingest.snapshots import (
        _read_files,
        read_table_version,
    )

    plan = _plan_scan(spark, table_path, conjuncts, version)
    m, kept = plan.manifest, plan.kept
    scan_table.last_files = (len(kept), plan.total)
    if "columns" in m:
        if not kept:
            ddl = ", ".join(f"`{n}` {typ}" for _id, n, typ in m["columns"])
            return spark.createDataFrame([], ddl)
        df = _scan_mapped(spark, table_path, {**m, "files": kept})
    elif not kept or len(kept) == plan.total:
        # no file kept: the snapshot's schema under an always-false read
        df = read_table_version(spark, table_path, plan.version)
    else:
        # Pruned path: the kept files must still honor the snapshot's
        # merge-on-read deletes (applied in _read_files) and the
        # snapshot's FULL schema — additive evolution can leave the kept
        # subset without a column the residual (or the caller)
        # references, so align by adding typed NULL columns. The full
        # schema comes from a lazy read_table_version (parquet footer
        # metadata only — no data IO).
        full = read_table_version(spark, table_path, plan.version).schema
        df = _align_schema(
            _read_files(
                spark, table_path, kept, m.get("dvs"), eqs=m.get("eqs")
            ),
            full,
        )
    return df.where(conjuncts_to_sql(conjuncts) if kept else "false")


def _align_schema(df: DataFrame, schema) -> DataFrame:
    """Add typed NULL columns for fields of ``schema`` missing from
    ``df`` (files that predate an additive evolution) and project to the
    schema's column order."""
    from pyspark.sql import functions as F

    have = set(df.columns)
    for field in schema.fields:
        if field.name not in have:
            df = df.withColumn(
                field.name, F.lit(None).cast(field.dataType)
            )
    return df.select(*[f.name for f in schema.fields])
