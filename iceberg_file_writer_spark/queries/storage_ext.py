"""Storage-layer query entries: manifest-stats pruned scans and
field-id schema evolution, oracle-paired [extension — not in reference].

Each entry materializes its snapshot-table artifact once per (session,
corpus) — the IVF-centroid memo pattern — then returns a plain
DataFrame whose values a DuckDB oracle reproduces from the source
parquet, so the STORAGE layer (write -> manifest stats -> prune /
evolve -> id-mapped read) sits inside the value-hash correctness gate,
not just pytest.

Reference scope note: the reference (/root/reference/main.go:47-54)
writes record files only; these entries exercise the table layers the
rebuild derives from that write path. [extension]
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_file_writer_spark.queries import register
from iceberg_file_writer_spark.tables import load_tables

# artifact memos, keyed by (applicationId, sf_dir) — cached DataFrames/
# paths die with their session (the _EMB_CACHED discipline)
_STATS_TABLES: dict[tuple, str] = {}
_MAPPED_TABLES: dict[tuple, str] = {}


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def _stats_table(spark: SparkSession, sf_dir: str) -> str:
    """A snapshot table of orders range-clustered by o_orderkey — the
    layout whose per-file min/max stats make key-range scans prunable."""
    from iceberg_file_writer_spark.ingest.snapshots import commit_append

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _STATS_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="stats-tbl-"), "orders")
        clustered = (
            _orders(spark, sf_dir)
            .repartitionByRange(8, "o_orderkey")
            .sortWithinPartitions("o_orderkey")
        )
        commit_append(spark, clustered, t, max_rows=1_000_000)
        _STATS_TABLES[key] = t
    return _STATS_TABLES[key]


@register(
    "stats_pruned_orders_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey > (SELECT CAST(FLOOR(max(o_orderkey) * 0.8) AS BIGINT) FROM orders)
""",
    description=(
        "Manifest-stats file skipping: a key-range predicate over a "
        "range-clustered snapshot table reads only the files whose "
        "footer min/max can match (pytest-pinned <50% of files); values "
        "equal the plain filtered scan exactly"
    ),
    driver_exposed=False,
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def stats_pruned_orders_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping scan through the manifest stats index.

    The cutoff (top 20% of the key range) is computed from data on both
    sides identically — double multiply + explicit FLOOR, because
    Python ``int()`` truncates while a bare DuckDB ``CAST`` rounds to
    nearest, and the two disagree whenever the product's fraction is
    >= 0.5 — so the oracle is exact for any key distribution. Pruning effectiveness is plan-pinned in
    tests/test_file_skipping.py::test_registered_entry_prunes — this
    entry's value-hash parity proves the pruned read LOSES NOTHING,
    which is the half a plan assertion cannot prove.
    """
    from iceberg_file_writer_spark.ingest.file_skipping import scan_table

    t = _stats_table(spark, sf_dir)
    maxkey = _orders(spark, sf_dir).agg(F.max("o_orderkey")).first()[0]
    cutoff = int(maxkey * 0.8)
    df = scan_table(spark, t, [("o_orderkey", ">", cutoff)])
    stats_pruned_orders_scan.last_files = scan_table.last_files
    return df.select("o_orderkey", "o_custkey", "o_totalprice")


def _mapped_table(spark: SparkSession, sf_dir: str) -> str:
    """A column-mapped orders table with a rename mid-history: the base
    half written under o_totalprice, evolved to `price`, the second half
    appended under the new name."""
    from iceberg_file_writer_spark.ingest.column_mapping import (
        append_mapped,
        create_mapped_table,
        evolve_mapped,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _MAPPED_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="mapped-tbl-"), "orders")
        orders = _orders(spark, sf_dir)
        create_mapped_table(
            spark, orders.where("o_orderkey % 2 = 0"), t, max_rows=1_000_000
        )
        evolve_mapped(t, renames={"o_totalprice": "price"})
        append_mapped(
            spark,
            orders.where("o_orderkey % 2 = 1").withColumnRenamed(
                "o_totalprice", "price"
            ),
            t,
            max_rows=1_000_000,
        )
        _MAPPED_TABLES[key] = t
    return _MAPPED_TABLES[key]


@register(
    "evolved_schema_orders_read",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice AS price
FROM orders
""",
    description=(
        "Field-id schema evolution: a column-mapped table whose history "
        "spans a rename (half the files written under o_totalprice, half "
        "under price) reads as ONE relation under the current name — "
        "old files resolve by field id, zero bytes rewritten"
    ),
    driver_exposed=False,
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def evolved_schema_orders_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read across a rename epoch boundary by field id.

    Both epochs' files are scanned under their own physical names and
    aliased to the as-of logical schema; filters and pruning push into
    both scans (plan-pinned in tests/test_column_mapping.py). Value
    parity against the plain aliased source proves the id resolution
    drops/duplicates nothing across the epoch boundary.
    """
    from iceberg_file_writer_spark.ingest.column_mapping import read_mapped

    t = _mapped_table(spark, sf_dir)
    return read_mapped(spark, t).select("o_orderkey", "o_custkey", "price")


_PARTITIONED_TABLES: dict[tuple, str] = {}


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Events under a bucket(8, user_id) + day(ts) hidden-partition spec
    (bucket-major: the layout a point-lookup-heavy workload wants)."""
    from iceberg_file_writer_spark.ingest.partitioning import (
        commit_append_partitioned,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PARTITIONED_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="hidpart-tbl-"), "events")
        ev = load_tables(spark, sf_dir)["events"].select(
            "event_id", "user_id", "ts", "event_type", "value"
        )
        commit_append_partitioned(
            spark, ev, t, [("bucket", 8, "user_id"), ("day", "ts")],
            max_rows=2_000,
        )
        _PARTITIONED_TABLES[key] = t
    return _PARTITIONED_TABLES[key]


@register(
    "hidden_partition_point_lookup",
    oracle="""
SELECT event_id, user_id, ts, event_type, value
FROM events
WHERE user_id = (SELECT min(user_id) FROM events)
""",
    description=(
        "Hidden partitioning: a point lookup on the RAW user_id column "
        "prunes through the table's bucket(8) transform (the scanner "
        "derives the literal's bucket id and skips every other bucket's "
        "files) — the query never names the layout"
    ),
    driver_exposed=False,
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def hidden_partition_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-predicate scan through the transform spec.

    Pruning effectiveness is pinned in tests/test_partitioning.py; this
    entry's value parity proves the bucket-mapped read loses no rows —
    including rows in files written before the spec existed (the
    conservative path)."""
    from iceberg_file_writer_spark.ingest.partitioning import scan_partitioned

    t = _partitioned_events(spark, sf_dir)
    uid = (
        load_tables(spark, sf_dir)["events"].agg(F.min("user_id")).first()[0]
    )
    return scan_partitioned(spark, t, [("user_id", "=", int(uid))]).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )


_RELAYOUT_TABLES: dict[tuple, str] = {}


@register(
    "relayout_cdc_quiet",
    oracle="""
SELECT '+' AS change, o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderkey % 2 = 1
""",
    description=(
        "Layout changes are CDC-silent (r12): a whole-span change feed "
        "across CREATE -> SET PARTITION SPEC -> spec-clustered append "
        "-> OPTIMIZE nets to exactly the appended rows — the respec is "
        "metadata-only, the compaction's rewrite pairs cancel, and the "
        "hidden bucket column never reaches the feed's schema (the "
        "value-hash gate would catch a leaked column or a phantom pair)"
    ),
    driver_exposed=True,  # twelfth rotation (r13): promoted — the r12
    # headline (hidden partitioning x column mapping) and the property-found
    # leak fix get hard-gate evidence (VERDICT r12 next-step 1)
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def relayout_cdc_quiet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic driver-checkable pin of the r12 hidden-column
    leak fix: before it, this exact span emitted a phantom -/+ pair per
    row (pre-spec rows keyed (…, NULL) vs re-clustered rows keyed
    (…, bucket) in the multiset diff) plus a leaked _b8_* column.

    At 100 TB the properties under test are the load-bearing ones: a
    respec must cost zero data movement AND zero change volume, and a
    compaction must never re-emit the table to CDC consumers."""
    from iceberg_file_writer_spark.ingest.partitioning import commit_respec
    from iceberg_file_writer_spark.ingest.snapshots import (
        changes_between,
        commit_append,
        commit_compact,
        current_version,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _RELAYOUT_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="relayout-tbl-"), "orders")
        orders = _orders(spark, sf_dir)
        commit_append(
            spark, orders.where("o_orderkey % 2 = 0"), t, max_rows=2_000
        )
        commit_respec(t, [["bucket", 8, "o_custkey"]])
        commit_append(
            spark, orders.where("o_orderkey % 2 = 1"), t, max_rows=2_000
        )
        commit_compact(spark, t)
        _RELAYOUT_TABLES[key] = t
    t = _RELAYOUT_TABLES[key]
    return changes_between(spark, t, 1, current_version(t)).select(
        "change", "o_orderkey", "o_custkey", "o_totalprice"
    )


_MAPPED_PART_TABLES: dict[tuple, str] = {}


@register(
    "mapped_partitioned_pruned_scan",
    oracle="""
SELECT event_id, user_id AS uid, ts, event_type, value
FROM events
WHERE user_id = (SELECT min(user_id) FROM events)
""",
    description=(
        "Hidden partitioning ON a column-mapped table (r12): the spec "
        "is pinned to FIELD IDS at create, a mid-life RENAME of the "
        "bucketed column re-labels reads without detaching the layout, "
        "post-rename appends cluster under the standing spec, and the "
        "point lookup prunes through the id-keyed hidden bucket column "
        "across BOTH evolution epochs"
    ),
    driver_exposed=True,  # twelfth rotation (r13): promoted (VERDICT r12 #1)
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def mapped_partitioned_pruned_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Transform pruning composed with rename-safe evolution.

    Pruning effectiveness (fewer files scanned, pinned counts) lives in
    tests/test_mapped_partitioning.py; this entry's value parity proves
    the id-resolved, bucket-pruned, two-epoch read loses no rows. At
    100 TB the scan is O(files-per-bucket) metadata + the kept files —
    the same contract as the plain flavor, now surviving renames."""
    from iceberg_file_writer_spark.ingest.column_mapping import (
        append_mapped,
        create_mapped_table,
        evolve_mapped,
        scan_mapped_partitioned,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _MAPPED_PART_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="mappart-tbl-"), "events")
        ev = load_tables(spark, sf_dir)["events"].select(
            "event_id", "user_id", "ts", "event_type", "value"
        )
        create_mapped_table(
            spark,
            ev.where("event_id % 2 = 0"),
            t,
            max_rows=2_000,
            spec=[("bucket", 8, "user_id"), ("day", "ts")],
        )
        evolve_mapped(t, renames={"user_id": "uid"})
        append_mapped(
            spark,
            ev.where("event_id % 2 = 1").withColumnRenamed(
                "user_id", "uid"
            ),
            t,
            max_rows=2_000,
        )
        _MAPPED_PART_TABLES[key] = t
    t = _MAPPED_PART_TABLES[key]
    uid = (
        load_tables(spark, sf_dir)["events"].agg(F.min("user_id")).first()[0]
    )
    return scan_mapped_partitioned(spark, t, [("uid", "=", int(uid))]).select(
        "event_id", "uid", "ts", "event_type", "value"
    )


_SQL_WAP_REPORTS: dict[tuple, list] = {}


@register(
    "sql_wap_lifecycle",
    oracle="""
WITH ev AS (SELECT count(*)::BIGINT AS n, sum(o_totalprice) AS s
            FROM orders WHERE o_orderkey % 2 = 0),
od AS (SELECT count(*)::BIGINT AS n, sum(o_totalprice) AS s
       FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey < 1000),
al AS (SELECT ev.n + od.n AS n, ev.s + od.s AS s FROM ev, od)
SELECT '1_main_before' AS phase, n, s FROM ev
UNION ALL SELECT '2_branch_audit', n, s FROM al
UNION ALL SELECT '3_main_during', n, s FROM ev
UNION ALL SELECT '4_published', n, s FROM al
UNION ALL SELECT '5_tag_travel', n, s FROM ev
""",
    description=(
        "Write-audit-publish as statement text (r13, VERDICT r12 "
        "missing #4): CREATE BRANCH -> branch-scoped INSERT -> FOR "
        "BRANCH audit read (production readers unchanged) -> PUBLISH "
        "BRANCH fast-forward -> FOR TAG time travel to the pre-publish "
        "snapshot; every phase's (count, sum) recomputed by the oracle"
    ),
    driver_exposed=False,  # r13 next-rotation candidate (surface at cap)
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def sql_wap_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's append-only contract gains a staging lane: a
    branch accumulates audited appends invisible to production, the
    publish is ONE atomic manifest fast-forward (no data rewrite), and
    a tag pins the pre-publish state for rollback-by-name. At 100 TB
    the publish cost is one manifest write regardless of staged bytes.
    Crash/concurrency semantics inherit from ingest/branching.py and
    ingest/tags.py (O_EXCL tag create, idempotent publish)."""
    from iceberg_file_writer_spark.ingest.snapshots import commit_append
    from iceberg_file_writer_spark.sql_dml import execute_dml, execute_query

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SQL_WAP_REPORTS:
        t = os.path.join(tempfile.mkdtemp(prefix="sql-wap-"), "ord")
        orders = _orders(spark, sf_dir)
        load_tables(spark, sf_dir)
        commit_append(
            spark, orders.where("o_orderkey % 2 = 0"), t, max_rows=2_000
        )
        tbl = {"ord": t}

        def snap(phase: str, suffix: str = "") -> tuple:
            r = execute_query(
                spark,
                "SELECT count(*) AS n, sum(o_totalprice) AS s "
                f"FROM ord{suffix}",
                tbl,
            ).first()
            return (phase, r.n, float(r.s))

        report = [snap("1_main_before")]
        execute_dml(spark, "ALTER TABLE ord CREATE TAG pre", tbl)
        execute_dml(spark, "ALTER TABLE ord CREATE BRANCH wap", tbl)
        execute_dml(
            spark,
            "INSERT INTO ord BRANCH wap SELECT o_orderkey, o_custkey, "
            "o_totalprice FROM orders "
            "WHERE o_orderkey % 2 = 1 AND o_orderkey < 1000",
            tbl,
        )
        report.append(snap("2_branch_audit", " FOR BRANCH wap"))
        report.append(snap("3_main_during"))
        execute_dml(spark, "ALTER TABLE ord PUBLISH BRANCH wap", tbl)
        report.append(snap("4_published"))
        report.append(snap("5_tag_travel", " FOR TAG pre"))
        _SQL_WAP_REPORTS[key] = report
    return spark.createDataFrame(
        _SQL_WAP_REPORTS[key], "phase string, n bigint, s double"
    )


_WIDEN_TABLES: dict[tuple, str] = {}


@register(
    "type_widening_lifecycle",
    oracle="""
SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS ck FROM orders
UNION ALL
SELECT o_orderkey + 30000000, o_custkey + 10000000000
FROM orders WHERE o_orderkey < 20
""",
    description=(
        "ALTER COLUMN TYPE widening (r13, VERDICT r12 missing #3): an "
        "INT column widens to BIGINT as a metadata-only field-id epoch "
        "— pre-widen files read through the epoch projection's widening "
        "parquet read, post-widen appends carry values beyond int "
        "range, and ONE scan returns both epochs uniformly typed; "
        "driven entirely as statement text"
    ),
    driver_exposed=False,  # r13 next-rotation candidate (surface at cap)
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def type_widening_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg's type-promotion lattice on the mapped flavor: the same
    int->long / float->double rules the ingest edge's Avro schema
    resolution applies (avro_py.decode_resolved), now as a table
    evolution. At 100 TB the widen is one manifest write — no data
    file is touched, and unwidened tables pay nothing (the epoch
    projection declares exact types; Catalyst sees no cast)."""
    from iceberg_file_writer_spark.sql_dml import execute_query, execute_script

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _WIDEN_TABLES:
        wh = tempfile.mkdtemp(prefix="widen-wh-")
        load_tables(spark, sf_dir)
        execute_script(
            spark,
            """
            CREATE TABLE tw AS SELECT o_orderkey,
              CAST(o_custkey AS INT) AS ck FROM orders;
            ALTER TABLE tw ALTER COLUMN ck TYPE BIGINT;
            INSERT INTO tw SELECT o_orderkey + 30000000 AS o_orderkey,
              o_custkey + 10000000000 AS ck
            FROM orders WHERE o_orderkey < 20;
            """,
            catalog=wh,
        )
        _WIDEN_TABLES[key] = wh
    return execute_query(
        spark, "SELECT o_orderkey, ck FROM tw", catalog=_WIDEN_TABLES[key]
    )


_SQL_CDF_TABLES: dict[tuple, tuple] = {}


@register(
    "sql_cdf_lifecycle",
    oracle="""
WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
del AS (SELECT * FROM base WHERE o_custkey % 5 = 0),
upd AS (SELECT * FROM base WHERE o_custkey % 5 = 1),
ins AS (SELECT o_orderkey + 20000000 AS o_orderkey, o_custkey,
               o_totalprice
        FROM base WHERE o_orderkey < 20)
SELECT '2_delete' AS phase, '-' AS change, o_orderkey, o_custkey,
       o_totalprice FROM del
UNION ALL SELECT '3_update', '-', o_orderkey, o_custkey, o_totalprice
FROM upd
UNION ALL SELECT '3_update', '+', o_orderkey, o_custkey, 0.0 FROM upd
UNION ALL SELECT '4_insert', '+', o_orderkey, o_custkey, o_totalprice
FROM ins
UNION ALL SELECT '5_net', '-', o_orderkey, o_custkey, o_totalprice
FROM del
UNION ALL SELECT '5_net', '-', o_orderkey, o_custkey, o_totalprice
FROM upd
UNION ALL SELECT '5_net', '+', o_orderkey, o_custkey, 0.0 FROM upd
UNION ALL SELECT '5_net', '+', o_orderkey, o_custkey, o_totalprice
FROM ins
UNION ALL SELECT '6_typed', 'delete', o_orderkey, o_custkey,
       o_totalprice FROM del
UNION ALL SELECT '6_typed', 'update_preimage', o_orderkey, o_custkey,
       o_totalprice FROM upd
UNION ALL SELECT '6_typed', 'update_postimage', o_orderkey, o_custkey,
       0.0 FROM upd
UNION ALL SELECT '6_typed', 'insert', o_orderkey, o_custkey,
       o_totalprice FROM ins
""",
    description=(
        "SQL change-feed surface (r13, VERDICT r12 missing #1): the "
        "engine's CDC feed driven entirely as statement text — CREATE "
        "TABLE AS / DELETE / UPDATE / INSERT through the catalog, then "
        "ONE SELECT unioning per-span table_changes('co', v1, v2) "
        "reads, the open-ended table_changes('co', v1) whole-span net, "
        "and table_changes_typed('co', v1, v4, 'o_orderkey') — every "
        "phase's rows recomputed independently by the DuckDB oracle"
    ),
    driver_exposed=False,  # r13 next-rotation candidate (surface at cap)
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def sql_cdf_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's ``table_changes`` table-valued form on the statement
    surface: per-span feeds, the open-ended form (end defaults to the
    CURRENT version), and the typed variant, all resolved inside
    execute_query's reference rewriter — the engine's flagship CDC
    capability reachable without dropping to Python.

    Reference posture: the CDC feed is the query-layer dual of the
    reference's append-only write contract (main.go:47-54). At 100 TB
    each span's planning is O(changed files) via the manifest segment
    diff; the feed itself is change-sized, never table-sized."""
    from iceberg_file_writer_spark.ingest.snapshots import current_version
    from iceberg_file_writer_spark.sql_dml import execute_dml, execute_query

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SQL_CDF_TABLES:
        wh = tempfile.mkdtemp(prefix="sql-cdf-wh-")
        load_tables(spark, sf_dir)  # temp views for statement sources
        execute_dml(
            spark,
            "CREATE TABLE co AS SELECT o_orderkey, o_custkey, "
            "o_totalprice FROM orders",
            catalog=wh,
        )
        path = os.path.join(wh, "co")
        vs = [current_version(path)]
        for stmt in (
            "DELETE FROM co WHERE o_custkey % 5 = 0",
            "UPDATE co SET o_totalprice = 0.0 WHERE o_custkey % 5 = 1",
            "INSERT INTO co SELECT o_orderkey + 20000000 AS o_orderkey, "
            "o_custkey, o_totalprice FROM orders WHERE o_orderkey < 20",
        ):
            execute_dml(spark, stmt, catalog=wh)
            vs.append(current_version(path))
        _SQL_CDF_TABLES[key] = (wh, vs)
    wh, (v1, v2, v3, v4) = _SQL_CDF_TABLES[key]
    cols = "o_orderkey, o_custkey, o_totalprice"
    return execute_query(
        spark,
        f"""
SELECT '2_delete' AS phase, change, {cols}
FROM table_changes('co', {v1}, {v2})
UNION ALL SELECT '3_update', change, {cols}
FROM table_changes('co', {v2}, {v3})
UNION ALL SELECT '4_insert', change, {cols}
FROM table_changes('co', {v3}, {v4})
UNION ALL SELECT '5_net', change, {cols}
FROM table_changes('co', {v1})
UNION ALL SELECT '6_typed', _change_type AS change, {cols}
FROM table_changes_typed('co', {v1}, {v4}, 'o_orderkey')
""",
        catalog=wh,
    )


_MOR_TABLES: dict[tuple, str] = {}


@register(
    "mor_deleted_orders_read",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE NOT (o_orderstatus = 'F') AND NOT (o_custkey % 7 = 0)
""",
    description=(
        "Merge-on-read DELETE: two tombstone commits (positional "
        "deletion vectors, zero files rewritten) applied at read time "
        "via the DV anti-join — values equal the doubly-filtered source "
        "exactly"
    ),
    driver_exposed=False,
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def mor_deleted_orders_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through accumulated deletion vectors.

    The second delete's predicate scan runs DV-applied (no double
    tombstones — pinned in tests/test_deletion_vectors.py); parity here
    proves the anti-join surfaces exactly the surviving rows."""
    from iceberg_file_writer_spark.ingest.deletion_vectors import (
        commit_delete_where_mor,
    )
    from iceberg_file_writer_spark.ingest.snapshots import (
        commit_append,
        read_table_version,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _MOR_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="mor-tbl-"), "orders")
        orders = load_tables(spark, sf_dir)["orders"].select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        commit_append(spark, orders, t, max_rows=2_000)
        commit_delete_where_mor(spark, t, "o_orderstatus = 'F'")
        commit_delete_where_mor(spark, t, "o_custkey % 7 = 0")
        _MOR_TABLES[key] = t
    return read_table_version(spark, _MOR_TABLES[key]).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


_ZORDER_TABLES: dict[tuple, str] = {}


@register(
    "zorder_box_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey <= (SELECT CAST(FLOOR(median(o_orderkey)) AS BIGINT) FROM orders)
  AND o_custkey  <= (SELECT CAST(FLOOR(median(o_custkey))  AS BIGINT) FROM orders)
""",
    description=(
        "Z-order clustering: a 2-dimension box predicate over a table "
        "Morton-clustered on (o_orderkey, o_custkey) prunes files on "
        "BOTH columns at once (pytest-pinned vs a plain sort order); "
        "values equal the unclustered filtered scan exactly"
    ),
    driver_exposed=False,
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box scan through a z-ordered layout.

    Pruning-on-every-dimension is pinned in
    tests/test_partitioning.py::test_zorder_prunes_on_every_dimension;
    value parity here proves the Morton layout loses no rows. Both
    sides compute the box corner as FLOOR(median) — DuckDB's median of
    an even row count is fractional, Spark's percentile likewise, and
    FLOOR agrees with them both."""
    from iceberg_file_writer_spark.ingest.partitioning import (
        commit_append_partitioned,
        scan_partitioned,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _ZORDER_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="zorder-tbl-"), "orders")
        commit_append_partitioned(
            spark,
            _orders(spark, sf_dir),
            t,
            [("zorder", ["o_orderkey", "o_custkey"])],
            max_rows=2_000,
        )
        _ZORDER_TABLES[key] = t
    t = _ZORDER_TABLES[key]
    corners = _orders(spark, sf_dir).selectExpr(
        "CAST(FLOOR(percentile(o_orderkey, 0.5)) AS BIGINT) AS k",
        "CAST(FLOOR(percentile(o_custkey, 0.5)) AS BIGINT) AS c",
    ).first()
    df = scan_partitioned(
        spark,
        t,
        [("o_orderkey", "<=", int(corners.k)), ("o_custkey", "<=", int(corners.c))],
    )
    return df.select("o_orderkey", "o_custkey", "o_totalprice")


_BLOOM_TABLES: dict[tuple, str] = {}


@register(
    "bloom_point_lookup",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey = (
    SELECT min(o_orderkey) FROM orders
    WHERE o_orderkey >= (SELECT CAST(FLOOR(median(o_orderkey)) AS BIGINT) FROM orders)
)
""",
    description=(
        "Per-file bloom index: an equality probe on a near-unique "
        "column the layout does NOT cluster (the table is custkey-"
        "clustered, so every file's orderkey min/max spans the probe) "
        "prunes to ~1 file through the bloom sidecar; values equal the "
        "plain filtered scan exactly"
    ),
    driver_exposed=False,
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through the bloom sidecar.

    The table is clustered by o_custkey, so an o_orderkey probe is the
    layout's worst case: every file's [min, max] covers the mid-range
    key and stats prune NOTHING — the near-unique key then lives in
    exactly one file, and the bloom filters prove it for the rest
    (pinned in tests/test_bloom_index.py). Parity proves membership
    tests lose no rows (false negatives impossible)."""
    from iceberg_file_writer_spark.ingest.bloom_index import attach_bloom_index
    from iceberg_file_writer_spark.ingest.file_skipping import scan_table
    from iceberg_file_writer_spark.ingest.snapshots import commit_append

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _BLOOM_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="bloom-tbl-"), "orders")
        clustered = (
            _orders(spark, sf_dir)
            .repartitionByRange(8, "o_custkey")
            .sortWithinPartitions("o_custkey")
        )
        commit_append(spark, clustered, t, max_rows=2_000)
        attach_bloom_index(spark, t, ["o_orderkey"], fpp=0.01)
        _BLOOM_TABLES[key] = t
    t = _BLOOM_TABLES[key]
    med = _orders(spark, sf_dir).selectExpr(
        "CAST(FLOOR(percentile(o_orderkey, 0.5)) AS BIGINT) AS m"
    ).first()[0]
    probe = (
        _orders(spark, sf_dir)
        .where(F.col("o_orderkey") >= int(med))
        .agg(F.min("o_orderkey"))
        .first()[0]
    )
    df = scan_table(spark, t, [("o_orderkey", "=", int(probe))])
    return df.select("o_orderkey", "o_custkey", "o_totalprice")


_WAP_TABLES: dict[tuple, str] = {}


@register(
    "wap_branch_publish_read",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
""",
    description=(
        "Write-audit-publish: the odd half of orders staged on a "
        "branch (invisible to production readers), audited via the "
        "branch read, then atomically fast-forward published — the "
        "final table equals the full source exactly"
    ),
    driver_exposed=False,
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def wap_branch_publish_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage -> audit -> publish -> read, end to end.

    The audit step is real: the branch read must equal the expected
    post-publish state BEFORE publish is allowed (count-checked here;
    value parity of the published table is this entry's oracle).
    Invisibility mid-stage and divergence/crash semantics are pinned in
    tests/test_branching.py."""
    from iceberg_file_writer_spark.ingest.branching import (
        commit_append_branch,
        create_branch,
        publish_branch,
        read_branch,
    )
    from iceberg_file_writer_spark.ingest.snapshots import (
        commit_append,
        read_table_version,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _WAP_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="wap-tbl-"), "orders")
        orders = _orders(spark, sf_dir)
        commit_append(
            spark, orders.where("o_orderkey % 2 = 0"), t, max_rows=2_000
        )
        create_branch(t, "wap")
        commit_append_branch(
            spark, orders.where("o_orderkey % 2 = 1"), t, "wap",
            max_rows=2_000,
        )
        # audit gate: staged state must match the source before publish
        n_branch = read_branch(spark, t, "wap").count()
        n_src = orders.count()
        if n_branch != n_src:
            raise AssertionError(
                f"audit failed: branch has {n_branch} rows, want {n_src}"
            )
        publish_branch(t, "wap")
        _WAP_TABLES[key] = t
    return read_table_version(spark, _WAP_TABLES[key]).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


_UPSERT_TABLES: dict[tuple, str] = {}


@register(
    "upsert_mor_orders_read",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice FROM (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_custkey % 5 = 0 THEN -o_totalprice
              ELSE o_totalprice END AS o_totalprice
  FROM orders
  WHERE NOT (o_custkey % 7 = 0)
  UNION ALL
  SELECT CAST(o_orderkey + (SELECT max(o_orderkey) FROM orders) AS BIGINT),
         o_custkey, o_totalprice
  FROM orders WHERE o_custkey % 11 = 3
)
""",
    description=(
        "Merge-on-read UPSERT via equality deletes: one commit pairs a "
        "key-tombstone file with the batch's data files (data sequence "
        "numbers keep the new rows alive), then a key DELETE commit — "
        "the table is never read on write; values equal the "
        "update+insert+delete replay exactly"
    ),
    driver_exposed=False,
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def upsert_mor_orders_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert + key-delete through equality-delete files, read back.

    Three commits: (1) append all orders; (2) one-commit upsert —
    updates negate o_totalprice for o_custkey % 5 = 0 rows, inserts
    clone o_custkey % 11 = 3 rows under key + max(key); (3)
    commit_delete_keys tombstones every original o_custkey % 7 = 0 key.
    The strict seq comparison is exercised in both directions: the
    upsert's delete file (seq 2) kills base rows (seq 1) but not its
    own inserts (seq 2), and the later delete (seq 3) reaches both
    earlier generations — including rows already replaced at seq 2.
    Write cost never touches the standing table (O(batch), the CDC
    posture at 100 TB); sequencing/compaction/CDC edge cases are
    pinned in tests/test_equality_deletes.py."""
    from iceberg_file_writer_spark.ingest.equality_deletes import (
        commit_delete_keys,
        commit_upsert,
    )
    from iceberg_file_writer_spark.ingest.snapshots import (
        commit_append,
        read_table_version,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _UPSERT_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="upsert-tbl-"), "orders")
        orders = _orders(spark, sf_dir)
        commit_append(spark, orders, t, max_rows=2_000)
        maxkey = int(orders.agg(F.max("o_orderkey")).first()[0])
        updates = orders.where("o_custkey % 5 = 0").withColumn(
            "o_totalprice", -F.col("o_totalprice")
        )
        inserts = orders.where("o_custkey % 11 = 3").withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(maxkey)
        )
        commit_upsert(
            spark, t, updates.unionByName(inserts), ["o_orderkey"],
            max_rows=2_000,
        )
        commit_delete_keys(
            spark, t, orders.where("o_custkey % 7 = 0").select("o_orderkey")
        )
        _UPSERT_TABLES[key] = t
    return read_table_version(spark, _UPSERT_TABLES[key]).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


_META_TABLES: dict[tuple, str] = {}


@register(
    "snapshots_metadata_log",
    oracle="""
SELECT 1 AS version, 'append' AS op,
       (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS n_rows,
       0 AS n_eq_delete_files
UNION ALL
SELECT 2, 'append',
       (SELECT count(*) FROM orders WHERE o_orderkey % 3 <= 1), 0
UNION ALL
SELECT 3, 'append', (SELECT count(*) FROM orders), 0
UNION ALL
SELECT 4, 'upsert_mor',
       (SELECT count(*) FROM orders)
       + (SELECT count(*) FROM orders WHERE o_custkey % 5 = 0), 1
""",
    description=(
        "Metadata inspection tables (Iceberg's $snapshots): per-version "
        "op, physical row and delete-file counts read from manifests "
        "alone — the whole history audited without opening one data "
        "file; values equal the commit replay exactly"
    ),
    # Round-8 seventh rotation: promoted (metadata-inspection flagship);
    # knn_sq8_rerank ceded its slot (retrieve-then-rerank shape stays
    # covered by knn_pq_adc_rerank and the ann_index probes).
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time,
    driver_exposed=False,  # tenth rotation (round 11): ceded
    # after long green tenure; class continuity per the guard
)
def snapshots_metadata_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The observability surface: table metadata AS a relation.

    Builds a four-commit history (three thirds-of-orders appends, then a
    merge-on-read upsert) and returns ``inspect_table(..., "snapshots")``
    — version, op, physical rows, equality-delete file count, straight
    from the manifest JSONs. No data file is opened: at 100 TB this is
    the query a compaction scheduler or ingest monitor runs every minute
    ("rows per snapshot, tombstone debt per snapshot"), and its cost is
    per-RETAINED-VERSION metadata reads, independent of table bytes.
    The oracle replays the commits arithmetically over `orders` — the
    metadata must agree with the data that produced it.

    The sibling views (files, partitions, history, refs) are pinned in
    tests/test_inspect.py, including stats-derived partition recovery
    and the boundary-straddler NULL contract.
    """
    from iceberg_file_writer_spark.ingest.equality_deletes import commit_upsert
    from iceberg_file_writer_spark.ingest.snapshots import commit_append

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _META_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="meta-tbl-"), "orders")
        orders = _orders(spark, sf_dir)
        for r in range(3):
            commit_append(
                spark, orders.where(f"o_orderkey % 3 = {r}"), t, max_rows=2_000
            )
        updates = orders.where("o_custkey % 5 = 0").withColumn(
            "o_totalprice", -F.col("o_totalprice")
        )
        commit_upsert(spark, t, updates, ["o_orderkey"], max_rows=2_000)
        _META_TABLES[key] = t
    # exercised THROUGH the statement surface (r13, VERDICT r12 missing
    # #2): the $snapshots metadata-table reference resolves inside
    # execute_query — same relation inspect_table returns directly
    from iceberg_file_writer_spark.sql_dml import execute_query

    return execute_query(
        spark,
        "SELECT version, op, n_rows, n_eq_delete_files FROM t$snapshots",
        {"t": _META_TABLES[key]},
    )


_STREAM_READ_TABLES: dict[tuple, str] = {}


@register(
    "incremental_snapshot_stream_read",
    oracle="SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    description=(
        "Incremental streaming source over a snapshot table (Iceberg's "
        "readStream): offsets are snapshot versions, each micro-batch is "
        "a manifest diff's added files read as Arrow batches — three "
        "commits stream through version-by-version and the drained sink "
        "equals the table exactly"
    ),
    # Round-8 seventh rotation: promoted (incremental-source flagship);
    # table_snapshot_diff ceded its slot (snapshot-diff shape stays
    # covered by snapshots_metadata_log; its window shape by
    # cdc_user_latest_state).
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def incremental_snapshot_stream_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage layer as its own change feed, end-to-end.

    Builds a snapshot table with three appends (thirds of orders), then
    consumes it with ``sources/snapshot_stream.py`` — a Spark 4 Python
    DataSource whose offsets are SNAPSHOT VERSIONS: each trigger plans
    the manifest diff (metadata-only), reads exactly the added files
    (one InputPartition per file, vectorized pyarrow RecordBatches), and
    the checkpoint WAL makes restarts exactly-once
    (tests/test_snapshot_source.py pins resume, non-append rejection,
    hidden-column dropping, expired-history errors).

    At 100 TB this is how downstream consumers follow an ingest table
    without rescanning it: per-trigger planning cost is O(commits
    advanced), read cost is O(appended bytes). maxVersionsPerBatch=1
    forces one commit per micro-batch here, so the multi-batch path is
    what the oracle checks.
    """
    from iceberg_file_writer_spark.ingest.snapshots import commit_append
    from iceberg_file_writer_spark.sources.snapshot_stream import (
        register_snapshot_source,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _STREAM_READ_TABLES:
        root = tempfile.mkdtemp(prefix="snapstream-")
        t = os.path.join(root, "orders")
        orders = _orders(spark, sf_dir)
        for r in range(3):
            commit_append(
                spark, orders.where(f"o_orderkey % 3 = {r}"), t, max_rows=2_000
            )
        sink = os.path.join(root, "sink")
        ckpt = os.path.join(root, "ckpt")
        register_snapshot_source(spark)
        q = (
            spark.readStream.format("snapshot_table")
            .option("path", t)
            .option("maxVersionsPerBatch", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        _STREAM_READ_TABLES[key] = sink
    return spark.read.parquet(_STREAM_READ_TABLES[key]).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


_ROUNDTRIP_TABLES: dict[tuple, str] = {}


@register(
    "snapshot_format_roundtrip",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_totalprice > 100000.0
""",
    description=(
        "DataSource format round-trip: orders written through "
        "df.write.format('snapshot_table') (Arrow task writes, optimistic "
        "commit), read back through spark.read.format('snapshot_table') "
        "with a pushed filter (manifest-stats file skipping) — values "
        "equal the plain filtered scan exactly"
    ),
    # Round-9 rotation (eighth): promoted — the full format quartet
    # (batch write -> batch read with pushed filters) under the driver's
    # value-hash gate, per the r8 verdict's rotation directive.
    driver_exposed=True,
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def snapshot_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The format quartet under the value-hash gate.

    Writes orders through the batch writer (executors stage Arrow
    batches, driver publishes one optimistic snapshot), then reads back
    through the batch reader with `o_totalprice > 100000.0` — Spark
    pushes the filter, `pushFilters` prunes files via manifest stats,
    and re-applies it row-level (the skipping-hint contract), so parity
    with the plain SQL proves the pruned read drops no qualifying row.
    Sorting the write by the filter column makes the per-file stats
    tight — the pruning is real, not vacuous (pinned directly in
    tests/test_snapshot_source.py::test_batch_reader_pushdown_skips_files).
    """
    from iceberg_file_writer_spark.sources.snapshot_stream import (
        register_snapshot_source,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _ROUNDTRIP_TABLES:
        register_snapshot_source(spark)
        t = os.path.join(tempfile.mkdtemp(prefix="fmt-rt-"), "orders")
        _orders(spark, sf_dir).orderBy("o_totalprice").write.format(
            "snapshot_table"
        ).option("path", t).mode("append").save()
        _ROUNDTRIP_TABLES[key] = t
    else:
        register_snapshot_source(spark)
    return (
        spark.read.format("snapshot_table")
        .option("path", _ROUNDTRIP_TABLES[key])
        .load()
        .where(F.col("o_totalprice") > 100000.0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_LIFECYCLE_REPORTS: dict[tuple, list] = {}


@register(
    "vacuum_lifecycle_report",
    oracle="""
WITH tot AS (SELECT count(*)::BIGINT AS n FROM orders),
del AS (SELECT count(*)::BIGINT AS n FROM orders WHERE o_custkey % 7 = 0)
SELECT * FROM (
  SELECT '1_append' AS phase, (SELECT n FROM tot) AS n_rows,
         0::BIGINT AS dv_tombstones, 0::BIGINT AS eq_key_rows,
         1::BIGINT AS versions_readable
  UNION ALL
  SELECT '2_mor_delete', (SELECT n FROM tot) - (SELECT n FROM del),
         (SELECT n FROM del), 0::BIGINT, 2::BIGINT
  UNION ALL
  SELECT '3_mor_upsert', (SELECT n FROM tot) - (SELECT n FROM del),
         (SELECT n FROM del), 20::BIGINT, 3::BIGINT
  UNION ALL
  SELECT '4_compact', (SELECT n FROM tot) - (SELECT n FROM del),
         0::BIGINT, 0::BIGINT, 4::BIGINT
  UNION ALL
  SELECT '5_vacuum', (SELECT n FROM tot) - (SELECT n FROM del),
         0::BIGINT, 0::BIGINT, 1::BIGINT
)
""",
    description=(
        "Verb-level storage lifecycle under the value-hash gate: append "
        "-> MoR delete (positional tombstones) -> MoR upsert (equality "
        "tombstones) -> compact (tombstone debt retires) -> vacuum "
        "(history trims to keep_last=1, CURRENT untouched). Each phase "
        "reports readable rows, DV tombstone rows, equality-delete key "
        "rows, and readable history depth — every number independently "
        "recomputed by the DuckDB oracle from the source table and the "
        "lifecycle's parameters"
    ),
    # Round-9 rotation (eighth): promoted at registration — the r8
    # verdict's verb-level storage readout directive.
    driver_exposed=True,
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def vacuum_lifecycle_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance verbs as one auditable story.

    Readable rows are counted through read_table_version (the MoR-applied
    read), tombstone debt through dv_stats / clustering_report (manifest
    +footer metadata only), history depth through snapshot_log. Vacuum
    runs with grace_seconds=0 inside a fresh tmpdir (nothing in-flight
    by construction) and must leave CURRENT intact while versions 1-3
    stop resolving — the Iceberg expire contract.
    """
    from iceberg_file_writer_spark.ingest.deletion_vectors import (
        commit_delete_where_mor,
        dv_stats,
    )
    from iceberg_file_writer_spark.ingest.equality_deletes import commit_upsert
    from iceberg_file_writer_spark.ingest.inspect import clustering_report
    from iceberg_file_writer_spark.ingest.maintenance import vacuum
    from iceberg_file_writer_spark.ingest.snapshots import (
        commit_append,
        commit_compact,
        read_table_version,
        snapshot_log,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _LIFECYCLE_REPORTS:
        t = os.path.join(tempfile.mkdtemp(prefix="vac-life-"), "orders")
        orders = _orders(spark, sf_dir)

        def snap(phase: str) -> tuple:
            return (
                phase,
                read_table_version(spark, t).count(),
                dv_stats(t)["tombstone_rows"],
                clustering_report(t)["eq_key_rows"],
                len(snapshot_log(t)),
            )

        report = []
        commit_append(spark, orders, t, max_rows=2000)
        report.append(snap("1_append"))
        commit_delete_where_mor(spark, t, "o_custkey % 7 = 0")
        report.append(snap("2_mor_delete"))
        upd = (
            orders.where("o_custkey % 7 <> 0")
            .orderBy("o_orderkey")
            .limit(20)
            .withColumn("o_totalprice", F.lit(-1.0))
        )
        commit_upsert(spark, t, upd, ["o_orderkey"])
        report.append(snap("3_mor_upsert"))
        commit_compact(spark, t)
        report.append(snap("4_compact"))
        vacuum(t, keep_last=1, grace_seconds=0)
        report.append(snap("5_vacuum"))
        _LIFECYCLE_REPORTS[key] = report
    return spark.createDataFrame(
        _LIFECYCLE_REPORTS[key],
        "phase string, n_rows long, dv_tombstones long, "
        "eq_key_rows long, versions_readable long",
    )


_DML_REPORTS: dict[tuple, list] = {}


@register(
    "sql_dml_lifecycle",
    oracle="""
WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
tot AS (SELECT count(*)::BIGINT AS n FROM base),
after_del AS (SELECT count(*)::BIGINT AS n FROM base WHERE o_custkey % 7 <> 0),
zeroed AS (SELECT count(*)::BIGINT AS n FROM base WHERE o_custkey % 7 = 1),
merged AS (SELECT count(*)::BIGINT AS n FROM base WHERE o_custkey % 7 = 2),
bumped AS (SELECT count(*)::BIGINT AS n FROM base WHERE o_custkey % 7 = 3),
ow AS (SELECT count(*)::BIGINT AS n, max(o_orderkey)::BIGINT AS k
       FROM base WHERE o_custkey % 7 = 4),
mk AS (SELECT max(o_orderkey)::BIGINT AS k FROM base)
SELECT * FROM (
  SELECT '1_insert' AS phase, (SELECT n FROM tot) AS n_rows,
         0::BIGINT AS n_zeroed, 0::BIGINT AS n_merged,
         0::BIGINT AS n_bumped, (SELECT k FROM mk) AS max_key
  UNION ALL
  SELECT '2_delete', (SELECT n FROM after_del), 0::BIGINT, 0::BIGINT,
         0::BIGINT, (SELECT k FROM mk)
  UNION ALL
  SELECT '3_update', (SELECT n FROM after_del), (SELECT n FROM zeroed),
         0::BIGINT, 0::BIGINT, (SELECT k FROM mk)
  UNION ALL
  SELECT '4_merge', (SELECT n FROM after_del) + 10,
         (SELECT n FROM zeroed), (SELECT n FROM merged) + 10,
         0::BIGINT, 10000019::BIGINT
  UNION ALL
  SELECT '5_cw_merge', (SELECT n FROM after_del) + 10,
         (SELECT n FROM zeroed), (SELECT n FROM merged) + 10,
         (SELECT n FROM bumped), 10000019::BIGINT
  UNION ALL
  SELECT '6_overwrite', (SELECT n FROM ow), 0::BIGINT, 0::BIGINT,
         0::BIGINT, (SELECT k FROM ow)
  UNION ALL
  SELECT '7_truncate', 0::BIGINT, 0::BIGINT, 0::BIGINT,
         0::BIGINT, NULL::BIGINT
)
""",
    description=(
        "SQL DML lifecycle under the value-hash gate: INSERT INTO "
        "SELECT (append) -> DELETE WHERE (CoW, NULL-safe survivors) -> "
        "UPDATE SET WHERE (CoW affected-files rewrite) -> whole-row "
        "MERGE INTO (one-commit MoR upsert: updates + 10 inserts) -> "
        "column-wise MERGE (SET c = tgt.c + expr, both aliases in "
        "scope) -> INSERT OVERWRITE (sidecar-clearing replace) -> bare "
        "DELETE (logical truncate), all issued as statement TEXT "
        "through sql_dml.execute_dml; each phase's observable state "
        "recomputed independently by the DuckDB oracle"
    ),
    # Promoted in the ninth rotation (round 10): the DML surface gets
    # driver-green evidence (VERDICT r9 next-step 2).
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def sql_dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DML statement surface exercised end-to-end (module doc of
    sql_dml: shape parsed here, expressions owned by Spark, semantics
    owned by the verbs) with every phase's observable state pinned."""
    from iceberg_file_writer_spark.ingest.snapshots import (
        commit_append,
        read_table_version,
    )
    from iceberg_file_writer_spark.sql_dml import execute_dml

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _DML_REPORTS:
        t = os.path.join(tempfile.mkdtemp(prefix="sql-dml-"), "ord")
        orders = _orders(spark, sf_dir)
        load_tables(spark, sf_dir)  # temp views for statement sources
        commit_append(spark, orders.where("o_orderkey % 2 = 0"), t, max_rows=2000)
        tbl = {"ord": t}

        def snap(phase: str) -> tuple:
            df = read_table_version(spark, t)
            agg = df.selectExpr(
                "count(*) AS n",
                "count_if(o_totalprice = 0.0) AS z",
                "count_if(o_totalprice = -5.0) AS m",
                "count_if(o_totalprice >= 1000000.0) AS b",
                "max(o_orderkey) AS k",
            ).first()
            return (phase, agg.n, agg.z, agg.m, agg.b, agg.k)

        report = []
        execute_dml(
            spark,
            "INSERT INTO ord SELECT o_orderkey, o_custkey, o_totalprice "
            "FROM orders WHERE o_orderkey % 2 = 1",
            tbl,
        )
        report.append(snap("1_insert"))
        execute_dml(spark, "DELETE FROM ord WHERE o_custkey % 7 = 0", tbl)
        report.append(snap("2_delete"))
        execute_dml(
            spark,
            "UPDATE ord SET o_totalprice = 0.0 WHERE o_custkey % 7 = 1",
            tbl,
        )
        report.append(snap("3_update"))
        execute_dml(
            spark,
            """MERGE INTO ord USING (
                 SELECT o_orderkey, o_custkey, -5.0 AS o_totalprice
                 FROM orders WHERE o_custkey % 7 = 2
                 UNION ALL
                 SELECT o_orderkey + 10000010, o_custkey, -5.0
                 FROM orders WHERE o_orderkey < 10
               ) AS src ON ord.o_orderkey = src.o_orderkey
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""",
            tbl,
        )
        report.append(snap("4_merge"))
        # column-wise MERGE: SET sees BOTH aliases (standard MERGE
        # scoping); +1e6 puts the touched rows above any TPC-H price
        execute_dml(
            spark,
            """MERGE INTO ord AS tgt USING (
                 SELECT o_orderkey, o_custkey, o_totalprice
                 FROM orders WHERE o_custkey % 7 = 3
               ) AS src ON tgt.o_orderkey = src.o_orderkey
               WHEN MATCHED THEN UPDATE SET
                 o_totalprice = tgt.o_totalprice + 1000000.0
               WHEN NOT MATCHED THEN INSERT *""",
            tbl,
        )
        report.append(snap("5_cw_merge"))
        execute_dml(
            spark,
            "INSERT OVERWRITE ord SELECT o_orderkey, o_custkey, "
            "o_totalprice FROM orders WHERE o_custkey % 7 = 4",
            tbl,
        )
        report.append(snap("6_overwrite"))
        execute_dml(spark, "DELETE FROM ord", tbl)
        report.append(snap("7_truncate"))
        _DML_REPORTS[key] = report
    return spark.createDataFrame(
        _DML_REPORTS[key],
        "phase string, n_rows long, n_zeroed long, n_merged long, "
        "n_bumped long, max_key long",
    )


@register(
    "bloom_keyset_lookup",
    oracle="""
WITH ks AS (
  SELECT min(o_orderkey) AS a, max(o_orderkey) AS b FROM orders
)
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders, ks
WHERE o_orderkey IN (ks.a, ks.b, -1)
""",
    description=(
        "IN-list pushdown end-to-end (round 9): a key-SET lookup on the "
        "unclustered near-unique column prunes through stats AND the "
        "bloom sidecar per member (a file survives iff SOME member may "
        "be contained; the absent -1 member prunes nothing extra); "
        "values equal the plain isin scan exactly"
    ),
    driver_exposed=False,
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def bloom_keyset_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-set lookup (the dim-join-avoiding IN probe) through the
    skipping stack: manifest stats admit files whose range covers ANY
    member, then bloom membership drops files containing NONE — the
    worst-case layout from bloom_point_lookup, now with a 3-member list
    (two live keys at opposite table ends + one absent)."""
    from iceberg_file_writer_spark.ingest.file_skipping import scan_table

    bloom_point_lookup(spark, sf_dir)  # ensure the shared indexed table
    t = _BLOOM_TABLES[(spark.sparkContext.applicationId, sf_dir)]
    o = _orders(spark, sf_dir).agg(
        F.min("o_orderkey").alias("a"), F.max("o_orderkey").alias("b")
    ).first()
    df = scan_table(
        spark, t, [("o_orderkey", "in", [int(o.a), int(o.b), -1])]
    )
    bloom_keyset_lookup.last_files = scan_table.last_files
    return df.select("o_orderkey", "o_custkey", "o_totalprice")


_AVRO_TABLES: dict[tuple, str] = {}
_AVRO_EVOLVED: dict[tuple, str] = {}


@register(
    "avro_schema_evolution_read",
    oracle="""
SELECT event_id, user_id,
       CASE WHEN event_id % 2 = 0 THEN 'legacy' ELSE event_type END
         AS event_type,
       CASE WHEN event_id % 2 = 0 THEN CAST(value AS FLOAT)::DOUBLE
            ELSE value END AS value
FROM events WHERE event_id % 97 = 0
""",
    description=(
        "Avro Schema Resolution under the value-hash gate: half the "
        "sample is written with an OLD writer schema (user_id int, "
        "value float, no event_type), half with the new one; ONE "
        "read_source(reader_schema=...) glob resolves both — reader "
        "default fills event_type='legacy' on old rows, int->long and "
        "float->double promotions apply (the oracle replays the f32 "
        "round-trip with CAST(value AS FLOAT)::DOUBLE) — proving an "
        "evolved stream reads uniformly reader-shaped"
    ),
    driver_exposed=False,
    eager=True,  # materializes the two-generation container files once
)
def avro_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evolved-stream read (ingest/avro_py.decode_resolved) as an
    oracle-checked entry.

    The builder collects the % 97 sample driver-side to author the two
    writer generations byte-exactly (bounded: ~0.5 KiB/row at ~1% of
    events — a fixture write, not a data path; the distributed
    write/read paths are avro_container_roundtrip's). The READ is the
    100 TB path: file-parallel binaryFile + Arrow-batched executor-side
    resolution against the reader schema."""
    from pyspark.sql import types as T

    from iceberg_file_writer_spark.ingest.avro_py import write_container
    from iceberg_file_writer_spark.ingest.batch import read_source

    v1 = {
        "type": "record", "name": "ev",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "user_id", "type": "int"},
            {"name": "value", "type": ["null", "float"], "default": None},
        ],
    }
    v2 = {
        "type": "record", "name": "ev",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "user_id", "type": "long"},
            {"name": "event_type", "type": "string", "default": "legacy"},
            {"name": "value", "type": ["null", "double"], "default": None},
        ],
    }
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _AVRO_EVOLVED:
        rows = (
            load_tables(spark, sf_dir)["events"]
            .where("event_id % 97 = 0")
            .select("event_id", "user_id", "event_type", "value")
            .collect()
        )
        d = tempfile.mkdtemp(prefix="avro-evo-")
        old = [
            {
                "event_id": r.event_id,
                "user_id": int(r.user_id),
                "value": r.value,
            }
            for r in rows
            if r.event_id % 2 == 0
        ]
        new = [
            {
                "event_id": r.event_id,
                "user_id": r.user_id,
                "event_type": r.event_type,
                "value": r.value,
            }
            for r in rows
            if r.event_id % 2 == 1
        ]
        write_container(os.path.join(d, "gen1.avro"), v1, old)
        write_container(os.path.join(d, "gen2.avro"), v2, new)
        _AVRO_EVOLVED[key] = d
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    return read_source(
        spark,
        f"{_AVRO_EVOLVED[key]}/*.avro",
        schema,
        source_format="avro",
        reader_schema=v2,
    )


@register(
    "avro_container_roundtrip",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events WHERE event_id % 17 = 0
""",
    description=(
        "Clean-room Avro wire format under the value-hash gate: an "
        "events sample is written DISTRIBUTED as Hive-partitioned "
        "snappy Avro object-containers (pure-Python encoder, "
        "key-sorted, row-bounded) and read back DISTRIBUTED through "
        "read_source's jar-free decoder — values equal the plain "
        "relational sample exactly, proving the 1.11 binary encoding "
        "round-trips bit-true"
    ),
    # Promoted in the ninth rotation (round 10): the clean-room wire
    # format gets driver-green evidence (VERDICT r9 next-step 2).
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def avro_container_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's byte format inside the correctness gate.

    Both directions are the 100 TB paths: the write is one
    applyInPandas pass (executors encode containers; a file manifest
    returns), the read is binaryFile file-parallel + Arrow-batched
    executor decode. ts is excluded (timestamps need a logical-type
    annotation this codec subset doesn't speak — documented scope)."""
    from pyspark.sql import types as T

    from iceberg_file_writer_spark.ingest.avro_py import (
        spark_read_avro,
        write_avro_partitioned,
    )
    from iceberg_file_writer_spark.ingest.batch import IngestConfig

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _AVRO_TABLES:
        sample = (
            load_tables(spark, sf_dir)["events"]
            .where("event_id % 17 = 0")
            .select("event_id", "user_id", "event_type", "value")
        )
        out = os.path.join(tempfile.mkdtemp(prefix="avro-rt-"), "events")
        write_avro_partitioned(
            sample,
            out,
            IngestConfig(
                partition_column="event_type",
                key_column="event_id",
                max_rows_per_file=500,
            ),
        )
        _AVRO_TABLES[key] = out
    return spark_read_avro(
        spark, f"{_AVRO_TABLES[key]}/*/*.avro", schema
    )


# --- SQL DDL lifecycle (column-mapped tables) --------------------------------

_DDL_REPORTS: dict[tuple, list] = {}


@register(
    "sql_ddl_lifecycle",
    oracle="""
WITH b0 AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 = 0),
b1 AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 IN (0, 1))
SELECT * FROM (
  SELECT '1_create' AS phase,
         (SELECT count(*) FROM b0)::BIGINT AS n_rows, 3::BIGINT AS n_cols,
         'c_custkey,c_name,c_acctbal' AS cols,
         (SELECT round(sum(c_acctbal), 2) FROM b0) AS bal
  UNION ALL
  SELECT '2_insert', (SELECT count(*) FROM b1)::BIGINT, 3::BIGINT,
         'c_custkey,c_name,c_acctbal',
         (SELECT round(sum(c_acctbal), 2) FROM b1)
  UNION ALL
  SELECT '3_rename', (SELECT count(*) FROM b1)::BIGINT, 3::BIGINT,
         'c_custkey,c_name,balance',
         (SELECT round(sum(c_acctbal), 2) FROM b1)
  UNION ALL
  SELECT '4_add', (SELECT count(*) FROM b1)::BIGINT, 4::BIGINT,
         'c_custkey,c_name,balance,tier',
         (SELECT round(sum(c_acctbal), 2) FROM b1)
  UNION ALL
  SELECT '5_drop', (SELECT count(*) FROM b1)::BIGINT, 3::BIGINT,
         'c_custkey,balance,tier',
         (SELECT round(sum(c_acctbal), 2) FROM b1)
  UNION ALL
  SELECT '6_truncate', 0::BIGINT, 3::BIGINT,
         'c_custkey,balance,tier', NULL::DOUBLE
  UNION ALL
  SELECT '7_timetravel', (SELECT count(*) FROM b1)::BIGINT, 3::BIGINT,
         'c_custkey,c_name,c_acctbal',
         (SELECT round(sum(c_acctbal), 2) FROM b1)
)
""",
    description=(
        "SQL DDL lifecycle on a column-mapped table, value-hash-gated: "
        "CREATE TABLE AS -> INSERT INTO (append_mapped) -> RENAME COLUMN "
        "-> ADD COLUMN -> DROP COLUMN (each a metadata-only commit, zero "
        "data bytes moved — the balance sum survives the rename because "
        "reads resolve files by field id) -> TRUNCATE (schema kept) -> "
        "time travel back under the pre-evolution schema; every phase's "
        "observable state recomputed independently by the oracle"
    ),
    driver_exposed=True,  # tenth rotation (round 11): promoted,
    eager=True,  # issues DDL statements against a temp table at plan time
)
def sql_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DDL statement surface (sql_dml module doc, DDL section)
    exercised end-to-end on a field-id column-mapped table.

    Scale shape: every ALTER commits one manifest and moves zero data
    bytes (the Iceberg schema-evolution contract); reads group files by
    their written (id, name) mapping into one scan per evolution epoch,
    so pushdown/pruning survive and scan count is O(#epochs), never
    O(#files). The per-phase observables (row count, live schema, the
    balance sum under whichever NAME the field currently carries) pin
    exactly the property name-based readers get wrong: bytes written
    under the old name keep resolving, and a dropped column can never
    resurrect."""
    from iceberg_file_writer_spark.ingest.column_mapping import (
        read_mapped,
        table_columns,
    )
    from iceberg_file_writer_spark.sql_dml import execute_dml

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _DDL_REPORTS:
        t = os.path.join(tempfile.mkdtemp(prefix="sql-ddl-"), "cust")
        load_tables(spark, sf_dir)  # temp views for statement sources
        tbl = {"cust": t}

        def snap(phase: str, version: int | None = None) -> tuple:
            df = read_mapped(spark, t, version=version)
            cols = [c[1] for c in table_columns(t, version)]
            bal = next(
                (c for c in ("c_acctbal", "balance") if c in cols), None
            )
            agg = df.selectExpr(
                "count(*) AS n",
                f"round(sum({bal}), 2) AS bal" if bal else "NULL AS bal",
            ).first()
            return (phase, agg.n, len(cols), ",".join(cols), agg.bal)

        report = []
        execute_dml(
            spark,
            "CREATE TABLE cust AS SELECT c_custkey, c_name, c_acctbal "
            "FROM customer WHERE c_custkey % 3 = 0",
            tbl,
        )
        report.append(snap("1_create"))
        execute_dml(
            spark,
            "INSERT INTO cust SELECT c_custkey, c_name, c_acctbal "
            "FROM customer WHERE c_custkey % 3 = 1",
            tbl,
        )
        report.append(snap("2_insert"))
        execute_dml(
            spark, "ALTER TABLE cust RENAME COLUMN c_acctbal TO balance", tbl
        )
        report.append(snap("3_rename"))
        execute_dml(spark, "ALTER TABLE cust ADD COLUMN tier string", tbl)
        report.append(snap("4_add"))
        execute_dml(spark, "ALTER TABLE cust DROP COLUMN c_name", tbl)
        report.append(snap("5_drop"))
        execute_dml(spark, "TRUNCATE TABLE cust", tbl)
        report.append(snap("6_truncate"))
        report.append(snap("7_timetravel", version=2))
        _DDL_REPORTS[key] = report
    return spark.createDataFrame(
        _DDL_REPORTS[key],
        "phase string, n_rows long, n_cols long, cols string, bal double",
    )


# --- mapped-table MoR lifecycle ----------------------------------------------

_MAPPED_REPORTS: dict[tuple, list] = {}


@register(
    "mapped_table_lifecycle",
    oracle="""
WITH b AS (SELECT o_orderkey AS k, o_custkey AS c FROM orders),
s1 AS (SELECT k, c FROM b WHERE k % 2 = 0),
src AS (SELECT k, c FROM b WHERE c % 3 = 0),
s2 AS (SELECT k, c, CASE WHEN c % 3 = 0 THEN 1 ELSE 0 END AS u
       FROM b WHERE k % 2 = 0 OR c % 3 = 0),
s3 AS (SELECT * FROM s2 WHERE c % 7 <> 0),
s5 AS (SELECT k, c, CASE WHEN c % 7 = 1 THEN 0 ELSE u END AS u,
              CASE WHEN c % 7 = 1 THEN 1 ELSE 0 END AS z
       FROM s3)
SELECT * FROM (
  SELECT '1_create' AS phase, (SELECT count(*) FROM s1)::BIGINT AS n_rows,
         0::BIGINT AS n_upserted, 0::BIGINT AS n_zeroed,
         (SELECT max(k) FROM s1)::BIGINT AS max_key,
         'o_orderkey,o_custkey,o_totalprice' AS cols
  UNION ALL
  SELECT '2_merge_upsert', (SELECT count(*) FROM s2)::BIGINT,
         (SELECT CAST(sum(u) AS BIGINT) FROM s2), 0::BIGINT,
         (SELECT max(k) FROM s2)::BIGINT,
         'o_orderkey,o_custkey,o_totalprice'
  UNION ALL
  SELECT '3_dv_delete', (SELECT count(*) FROM s3)::BIGINT,
         (SELECT CAST(sum(u) AS BIGINT) FROM s3), 0::BIGINT,
         (SELECT max(k) FROM s3)::BIGINT,
         'o_orderkey,o_custkey,o_totalprice'
  UNION ALL
  SELECT '4_rename', (SELECT count(*) FROM s3)::BIGINT,
         (SELECT CAST(sum(u) AS BIGINT) FROM s3), 0::BIGINT,
         (SELECT max(k) FROM s3)::BIGINT,
         'o_orderkey,o_custkey,price'
  UNION ALL
  SELECT '5_cow_update', (SELECT count(*) FROM s5)::BIGINT,
         (SELECT CAST(sum(u) AS BIGINT) FROM s5),
         (SELECT CAST(sum(z) AS BIGINT) FROM s5),
         (SELECT max(k) FROM s5)::BIGINT,
         'o_orderkey,o_custkey,price'
  UNION ALL
  SELECT '6_compact', (SELECT count(*) FROM s5)::BIGINT,
         (SELECT CAST(sum(u) AS BIGINT) FROM s5),
         (SELECT CAST(sum(z) AS BIGINT) FROM s5),
         (SELECT max(k) FROM s5)::BIGINT,
         'o_orderkey,o_custkey,price'
  UNION ALL
  SELECT '7_timetravel', (SELECT count(*) FROM s2)::BIGINT,
         (SELECT CAST(sum(u) AS BIGINT) FROM s2), 0::BIGINT,
         (SELECT max(k) FROM s2)::BIGINT,
         'o_orderkey,o_custkey,o_totalprice'
)
""",
    description=(
        "Column-mapped MoR lifecycle under the value-hash gate: CREATE "
        "TABLE AS -> whole-row MERGE (field-id-keyed equality-delete "
        "upsert, O(batch)) -> DELETE USING MOR (positional DVs, zero "
        "rewrites) -> RENAME COLUMN (metadata-only; both delete classes "
        "keep applying) -> column-targeted CoW UPDATE through the id "
        "projection -> OPTIMIZE (both delete classes retire) -> time "
        "travel under the pre-rename schema; every phase's observable "
        "state recomputed independently by the oracle"
    ),
    driver_exposed=True,  # tenth rotation (round 11): promoted,
    eager=True,  # issues DML/DDL statements against a temp table at plan time
)
def mapped_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapped-table flavor exercised end-to-end through statement
    text — the driver-checkable twin of the pytest MoR suite.

    Scale shape inherits the verbs': the upsert never reads the table
    (O(batch) + one delete file), the DV delete rewrites nothing, the
    rename moves zero bytes, the CoW update rewrites only affected
    files resolved through the field-id projection with both delete
    classes applied (no resurrection), and compaction is the single
    whole-table pass that retires the tombstones."""
    from iceberg_file_writer_spark.ingest.column_mapping import (
        read_mapped,
        table_columns,
    )
    from iceberg_file_writer_spark.sql_dml import execute_dml

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _MAPPED_REPORTS:
        t = os.path.join(tempfile.mkdtemp(prefix="mapped-lc-"), "ord")
        load_tables(spark, sf_dir)
        tbl = {"ord": t}

        def snap(phase: str, version: int | None = None) -> tuple:
            df = read_mapped(spark, t, version=version)
            cols = [c[1] for c in table_columns(t, version)]
            p = "price" if "price" in cols else "o_totalprice"
            agg = df.selectExpr(
                "count(*) AS n",
                f"count_if({p} = -1.0) AS u",
                f"count_if({p} = 0.0) AS z",
                "max(o_orderkey) AS mk",
            ).first()
            return (phase, agg.n, agg.u, agg.z, agg.mk, ",".join(cols))

        report = []
        execute_dml(
            spark,
            "CREATE TABLE ord AS SELECT o_orderkey, o_custkey, o_totalprice "
            "FROM orders WHERE o_orderkey % 2 = 0",
            tbl,
        )
        report.append(snap("1_create"))
        execute_dml(
            spark,
            """MERGE INTO ord USING (
                 SELECT o_orderkey, o_custkey,
                        CAST(-1.0 AS DOUBLE) AS o_totalprice
                 FROM orders WHERE o_custkey % 3 = 0
               ) AS src ON ord.o_orderkey = src.o_orderkey
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""",
            tbl,
        )
        report.append(snap("2_merge_upsert"))
        execute_dml(
            spark, "DELETE FROM ord USING MOR WHERE o_custkey % 7 = 0", tbl
        )
        report.append(snap("3_dv_delete"))
        execute_dml(
            spark, "ALTER TABLE ord RENAME COLUMN o_totalprice TO price", tbl
        )
        report.append(snap("4_rename"))
        execute_dml(
            spark, "UPDATE ord SET price = 0.0 WHERE o_custkey % 7 = 1", tbl
        )
        report.append(snap("5_cow_update"))
        execute_dml(spark, "OPTIMIZE ord", tbl)
        report.append(snap("6_compact"))
        report.append(snap("7_timetravel", version=2))
        _MAPPED_REPORTS[key] = report
    return spark.createDataFrame(
        _MAPPED_REPORTS[key],
        "phase string, n_rows long, n_upserted long, n_zeroed long, "
        "max_key long, cols string",
    )


# ---------------------------------------------------------------------------
# CDC-driven incremental aggregate view (round-10 session 3): a materialized
# GROUP BY over a snapshot table kept current under arbitrary DML by folding
# the table's own change feed — ingest/agg_view.py under the value-hash gate.
# ---------------------------------------------------------------------------

_AGG_VIEWS: dict[tuple, str] = {}


@register(
    "incremental_agg_view_refresh",
    oracle="""
WITH src AS (
  SELECT o_orderkey, o_custkey % 100 AS grp,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 3 IN (0, 1)
),
final AS (
  SELECT grp, CASE WHEN grp % 5 = 1 THEN cents + 100 ELSE cents END AS cents
  FROM src WHERE grp % 5 <> 0
)
SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS sum_v,
       round(sum(cents)::DOUBLE / count(*) / 100, 6) AS avg_value
FROM final GROUP BY grp
""",
    description=(
        "Incremental aggregate-view maintenance from the snapshot CDC "
        "feed: a materialized GROUP BY refreshed through append -> CoW "
        "delete (whole groups vanish) -> CoW update, each refresh "
        "folding only the delta-sized change feed (never re-scanning "
        "the table); the oracle recomputes the final state from scratch "
        "— the view must equal it exactly"
    ),
    driver_exposed=True,  # tenth rotation (round 11): promoted,
    eager=True,  # builds the base table + view and runs refreshes at plan time
)
def incremental_agg_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rollup/join-view family closed over arbitrary DML.

    Scale shape (ingest/agg_view.py module doc): each refresh reads the
    manifest-diff change feed (delta-sized), partial-aggregates it to
    the touched-group relation, and full-outer-joins the groups-sized
    standing view — O(changes + view), never O(table). Exactness under
    retraction comes from the integer-cents value column; the final avg
    derives at read time.
    """
    from iceberg_file_writer_spark.ingest.agg_view import (
        init_agg_view,
        read_agg_view,
        refresh_agg_view,
    )
    from iceberg_file_writer_spark.ingest.snapshots import (
        commit_append,
        commit_delete_where,
        commit_update_where,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _AGG_VIEWS:
        base_dir = tempfile.mkdtemp(prefix="agg-view-")
        t = os.path.join(base_dir, "base")
        v = os.path.join(base_dir, "view")
        src = load_tables(spark, sf_dir)["orders"].select(
            "o_orderkey",
            (F.col("o_custkey") % 100).cast("long").alias("grp"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        commit_append(spark, src.where("o_orderkey % 3 = 0"), t, max_rows=4096)
        init_agg_view(spark, t, v, ["grp"], "cents")
        commit_append(spark, src.where("o_orderkey % 3 = 1"), t, max_rows=4096)
        refresh_agg_view(spark, t, v)
        commit_delete_where(spark, t, "grp % 5 = 0")
        refresh_agg_view(spark, t, v)
        commit_update_where(spark, t, "grp % 5 = 1", {"cents": "cents + 100"})
        refresh_agg_view(spark, t, v)
        _AGG_VIEWS[key] = v
    return read_agg_view(spark, _AGG_VIEWS[key]).select(
        "grp",
        "n_rows",
        "sum_v",
        F.round(F.col("sum_v").cast("double") / F.col("n_rows") / 100, 6).alias(
            "avg_value"
        ),
    )


# --- warehouse catalog + durable views lifecycle ------------------------------

_CATALOG_REPORTS: dict[tuple, list] = {}


@register(
    "catalog_views_lifecycle",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 4 = 0
),
surv AS (SELECT * FROM base WHERE k % 3 <> 0),
big0 AS (SELECT * FROM base WHERE cents > 20000000),
big1 AS (SELECT * FROM surv WHERE cents > 20000000)
SELECT * FROM (
  SELECT '1_create' AS phase, (SELECT count(*) FROM base)::BIGINT AS n,
         (SELECT sum(cents) FROM base)::BIGINT AS s
  UNION ALL
  SELECT '2_view', (SELECT count(*) FROM big0)::BIGINT,
         (SELECT sum(cents) FROM big0)::BIGINT
  UNION ALL
  SELECT '3_delete_replans', (SELECT count(*) FROM big1)::BIGINT,
         (SELECT sum(cents) FROM big1)::BIGINT
  UNION ALL
  SELECT '4_view_on_view', (SELECT count(*) FROM big1)::BIGINT,
         (SELECT sum(cents) FROM big1)::BIGINT
  UNION ALL
  SELECT '5_drop', 1::BIGINT, 1::BIGINT
)
""",
    description=(
        "Warehouse-catalog lifecycle, value-hash-gated: CREATE TABLE by "
        "BARE NAME registers a slot in catalog.json; a durable "
        "(non-materialized) VIEW stores SQL that RE-PLANS per reference "
        "— a DELETE against the base table shows through it with no "
        "refresh step; a view stacks on another view; DROP VIEW / the "
        "registry survive into a fresh Catalog instance (a second "
        "session); every phase's observable recomputed independently by "
        "the oracle"
    ),
    # Registered mid-round 11; the driver surface is at its 50 cap — an
    # eleventh-rotation candidate.
    driver_exposed=True,  # r12 rotation: promoted (durable names + views)
    eager=True,  # issues catalog DDL/DML against a temp warehouse at plan time
)
def catalog_views_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The durable-name layer exercised end-to-end: tables and views by
    bare name only (no tables= dict anywhere), across two Catalog
    instances to pin cross-session durability.

    Scale shape: the catalog is ONE JSON document per warehouse —
    metadata, parsed once per statement (mtime-memoized per instance);
    view resolution substitutes stored SQL as a temp view per
    reference, so the planned query is exactly what inlining the view
    text would plan (Catalyst sees one tree; pushdown crosses the view
    boundary). Nothing here scales with table size.
    """
    from iceberg_file_writer_spark.catalog import Catalog
    from iceberg_file_writer_spark.sql_dml import (
        execute_dml,
        execute_query,
        execute_script,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CATALOG_REPORTS:
        wh = tempfile.mkdtemp(prefix="catalog-lifecycle-")
        load_tables(spark, sf_dir)  # temp views for statement sources

        def through(sql: str, cat) -> tuple:
            r = execute_query(spark, sql, catalog=cat).first()
            return (int(r.n), int(r.s) if r.s is not None else None)

        report = []
        execute_dml(
            spark,
            "CREATE TABLE sales AS SELECT o_orderkey AS k, "
            "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents "
            "FROM orders WHERE o_orderkey % 4 = 0",
            catalog=wh,
        )
        n, s = through("SELECT count(*) AS n, sum(cents) AS s FROM sales", wh)
        report.append(("1_create", n, s))

        execute_dml(
            spark,
            "CREATE VIEW big_sales AS "
            "SELECT k, cents FROM sales WHERE cents > 20000000",
            catalog=wh,
        )
        n, s = through(
            "SELECT count(*) AS n, sum(cents) AS s FROM big_sales", wh
        )
        report.append(("2_view", n, s))

        # a SECOND Catalog instance from here on = a fresh session:
        # the table binding and the stored view SQL must both survive
        cat2 = Catalog(wh)
        execute_dml(spark, "DELETE FROM sales WHERE k % 3 = 0", catalog=cat2)
        n, s = through(
            "SELECT count(*) AS n, sum(cents) AS s FROM big_sales", cat2
        )
        report.append(("3_delete_replans", n, s))

        out = execute_script(
            spark,
            "CREATE VIEW sales_rollup AS "
            "  SELECT count(*) AS n, sum(cents) AS s FROM big_sales; "
            "SELECT n, s FROM sales_rollup",
            catalog=cat2,
        ).first()
        report.append(("4_view_on_view", int(out.n), int(out.s)))

        execute_dml(spark, "DROP VIEW sales_rollup", catalog=cat2)
        n_views = len(Catalog(wh).view_names())
        n_tables = execute_query(spark, "SHOW TABLES", catalog=wh).count()
        report.append(("5_drop", n_views, n_tables))
        _CATALOG_REPORTS[key] = report
    return spark.createDataFrame(
        _CATALOG_REPORTS[key], "phase string, n long, s long"
    )


# --- mapped-table DataSource format roundtrip ---------------------------------

_MAPPED_FMT_TABLES: dict[tuple, str] = {}


@register(
    "mapped_format_roundtrip",
    oracle="""
SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS price
FROM orders
WHERE o_totalprice > 100000.0 AND o_custkey % 3 <> 0
""",
    description=(
        "DataSource format round-trip on a COLUMN-MAPPED table: create "
        "mapped, RENAME two columns + upsert through the statement "
        "surface, write MORE rows through "
        "df.write.format('snapshot_table') (entries stamped with the "
        "standing mapping), then spark.read.format(...) with a pushed "
        "filter — pre-rename epochs resolve by field id under the "
        "current names, equality-delete tombstones apply task-side, and "
        "file skipping prunes only epoch-stable columns; values equal "
        "the plain filtered scan exactly"
    ),
    # Registered mid-round 11; surface at the 50 cap — an eleventh-
    # rotation candidate (puts the mapped format work under the gate).
    driver_exposed=True,  # r12 rotation: promoted (mapped DataSource)
    eager=True,  # builds a mapped table + runs format writes at plan time
)
def mapped_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapped flavor through the format quartet.

    Construction: a mapped table is CREATEd with half of orders under
    the ORIGINAL column names, a MERGE re-asserts rows for custkey%3=0
    (equality tombstones at a higher seq), the key columns are RENAMED
    (metadata-only), and the other half of orders lands through the
    format's batch WRITER under the new names. The format READ then
    projects every epoch to the current names by field id, applies the
    tombstones task-side with seq scoping, and the oracle — a plain
    filtered scan of orders — matches only if (a) renames resolved,
    (b) the upsert's duplicate re-assertions were shadowed, and (c) the
    pushed filter dropped no qualifying row despite pruning being
    restricted to epoch-stable columns.

    Scale shape: one scan per evolution epoch (InputPartition physmaps,
    not per-file plans); the delete probe is broadcast-shaped and the
    delta is deletion-sized.
    """
    from iceberg_file_writer_spark.ingest.column_mapping import (
        create_mapped_table,
        evolve_mapped,
        upsert_mapped,
    )
    from iceberg_file_writer_spark.sources.snapshot_stream import (
        register_snapshot_source,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _MAPPED_FMT_TABLES:
        register_snapshot_source(spark)
        t = os.path.join(tempfile.mkdtemp(prefix="mapped-fmt-"), "orders")
        half = _orders(spark, sf_dir)
        create_mapped_table(
            spark, half.where("o_orderkey % 2 = 0"), t, max_rows=8192
        )
        # re-assert identical rows for a key slice: the eq tombstones
        # must shadow the originals, NOT double them, through the format
        upsert_mapped(
            spark,
            half.where("o_orderkey % 2 = 0 AND o_custkey % 5 = 0"),
            t,
            ["o_orderkey"],
            max_rows=8192,
        )
        evolve_mapped(
            t, renames={"o_orderkey": "k", "o_custkey": "cust",
                        "o_totalprice": "price"}
        )
        # second half arrives through the format writer under NEW names
        (
            half.where("o_orderkey % 2 = 1")
            .selectExpr("o_orderkey AS k", "o_custkey AS cust",
                        "o_totalprice AS price")
            .orderBy("price")
            .write.format("snapshot_table")
            .option("path", t)
            .mode("append")
            .save()
        )
        _MAPPED_FMT_TABLES[key] = t
    else:
        register_snapshot_source(spark)
    return (
        spark.read.format("snapshot_table")
        .option("path", _MAPPED_FMT_TABLES[key])
        .load()
        .where((F.col("price") > 100000.0) & (F.col("cust") % 3 != 0))
        .select("k", "cust", "price")
    )


# --- typed change feed (Delta CDF's _change_type shape) ------------------------

_TYPED_TABLES: dict[tuple, str] = {}


@register(
    "cdc_typed_changes",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS k, o_custkey % 100 AS grp,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 2 = 0
),
newrows AS (
  SELECT o_orderkey AS k, o_custkey % 100 AS grp,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 4 = 1
)
SELECT 'update_preimage' AS _change_type, k, grp, cents
FROM base WHERE k % 6 = 0 AND grp % 9 <> 0
UNION ALL
SELECT 'update_postimage', k, grp, cents + 500
FROM base WHERE k % 6 = 0 AND grp % 9 <> 0
UNION ALL
SELECT 'insert', k, grp, cents FROM newrows WHERE grp % 9 <> 0
UNION ALL
SELECT 'delete', k, grp, cents FROM base WHERE grp % 9 = 0
""",
    description=(
        "Typed change feed (Delta CDF parity): the netted +/- feed "
        "key-paired into insert / delete / update_preimage / "
        "update_postimage — an upsert's retraction pair reads as ONE "
        "update with both images; a row updated then deleted within the "
        "span nets to a delete carrying its ORIGINAL value; a row "
        "inserted then deleted nets away entirely"
    ),
    # Registered mid-round 11; surface at the 50 cap — an eleventh-
    # rotation candidate (the typed-changelog class).
    driver_exposed=True,  # r12 rotation: promoted (typed change feed)
    eager=True,  # builds a table + runs DML at plan time
)
def cdc_typed_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """update-vs-delete+insert disambiguation on top of the multiset
    feed — the shape CDC consumers that mirror into key-value stores
    need (an update must not tombstone-then-reinsert downstream).

    Scale shape: one extra key shuffle over the DELTA only (the feed
    is change-sized); the pre/post pairing is a delta<->delta
    full-outer join with explicit presence markers.
    """
    from iceberg_file_writer_spark.ingest.equality_deletes import commit_upsert
    from iceberg_file_writer_spark.ingest.snapshots import (
        changes_typed,
        commit_append,
        commit_delete_where,
        current_version,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TYPED_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="typed-cdc-"), "t")
        src = load_tables(spark, sf_dir)["orders"].select(
            F.col("o_orderkey").alias("k"),
            (F.col("o_custkey") % 100).cast("long").alias("grp"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        base = src.where("k % 2 = 0")
        commit_append(spark, base, t, max_rows=8192)
        commit_upsert(
            spark,
            t,
            base.where("k % 6 = 0")
            .withColumn("cents", F.col("cents") + F.lit(500))
            .unionByName(src.where("k % 4 = 1")),
            ["k"],
            max_rows=8192,
        )
        commit_delete_where(spark, t, "grp % 9 = 0")
        _TYPED_TABLES[key] = t
    t = _TYPED_TABLES[key]
    return changes_typed(spark, t, 1, current_version(t), ["k"])


# --- initial DEFAULT values ----------------------------------------------------

_DEFAULTS_TABLES: dict[tuple, str] = {}


@register(
    "mapped_default_values",
    oracle="""
WITH old AS (
  SELECT c_custkey AS k, 'standard' AS tier,
         CAST(100 AS BIGINT) AS credit
  FROM customer WHERE c_custkey % 5 = 0
),
newer AS (
  SELECT c_custkey AS k, 'vip' AS tier, CAST(9000 AS BIGINT) AS credit
  FROM customer WHERE c_custkey % 5 = 1
)
SELECT k, tier, credit FROM old
UNION ALL
SELECT k, tier, credit FROM newer
""",
    description=(
        "Initial DEFAULT values (Iceberg v3): columns added with "
        "DEFAULT after the first write — pre-existing rows read "
        "'standard'/100 without a single data byte moving (the default "
        "rides the manifest, field-id-keyed), post-addition rows carry "
        "their own values; the whole-table read is the union the oracle "
        "recomputes from scratch"
    ),
    # Registered mid-round 11; surface at the 50 cap — an eleventh-
    # rotation candidate.
    driver_exposed=True,  # r12 rotation: promoted (initial defaults)
    eager=True,  # issues DDL/DML against a temp table at plan time
)
def mapped_default_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFAULT-filled history, value-hash-gated.

    Scale shape: the ADD COLUMN ... DEFAULT commit touches one
    manifest; the default materializes at READ time inside the epoch
    projection (a literal in the select — whole-stage-codegen'd, no
    data rewrite, no backfill job), which is the entire point at
    100 TB: a new column with a default over a petabyte of history
    costs one metadata write.
    """
    from iceberg_file_writer_spark.sql_dml import execute_dml

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _DEFAULTS_TABLES:
        t = os.path.join(tempfile.mkdtemp(prefix="defaults-"), "t")
        load_tables(spark, sf_dir)
        tbl = {"t": t}
        execute_dml(
            spark,
            "CREATE TABLE t AS SELECT c_custkey AS k FROM customer "
            "WHERE c_custkey % 5 = 0",
            tbl,
        )
        execute_dml(
            spark,
            "ALTER TABLE t ADD COLUMN tier STRING DEFAULT 'standard'",
            tbl,
        )
        execute_dml(
            spark, "ALTER TABLE t ADD COLUMN credit BIGINT DEFAULT 100", tbl
        )
        execute_dml(
            spark,
            "INSERT INTO t SELECT c_custkey AS k, 'vip' AS tier, "
            "CAST(9000 AS BIGINT) AS credit FROM customer "
            "WHERE c_custkey % 5 = 1",
            tbl,
        )
        _DEFAULTS_TABLES[key] = t
    from iceberg_file_writer_spark.ingest.column_mapping import read_mapped

    return read_mapped(spark, _DEFAULTS_TABLES[key]).select(
        "k", "tier", "credit"
    )


_SQL_MV_REPORTS: dict[tuple, list] = {}


@register(
    "sql_mv_lifecycle",
    oracle="""
WITH t0 AS (SELECT o_orderkey, o_custkey % 100 AS g,
                   CAST(FLOOR(o_totalprice) AS BIGINT) AS cents
            FROM orders),
t1 AS (SELECT * FROM t0 WHERE NOT (g % 3 = 0)),
t2 AS (SELECT o_orderkey, g,
              CASE WHEN g % 7 = 1 THEN CAST(0 AS BIGINT) ELSE cents END
                AS cents
       FROM t1),
ins AS (SELECT o_orderkey + 20000000 AS o_orderkey,
               (o_custkey % 100) + 100 AS g,
               CAST(FLOOR(o_totalprice) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey < 20),
t3 AS (SELECT * FROM t2 UNION ALL SELECT * FROM ins)
SELECT '1_init' AS phase, g, count(*) AS n, count(cents) AS nv,
       CAST(sum(cents) AS BIGINT) AS total,
       CAST(sum(cents) AS DOUBLE) / count(cents) AS mean
FROM t0 GROUP BY g
UNION ALL
SELECT '2_delete', g, count(*), count(cents), CAST(sum(cents) AS BIGINT),
       CAST(sum(cents) AS DOUBLE) / count(cents)
FROM t1 GROUP BY g
UNION ALL
SELECT '3_update', g, count(*), count(cents), CAST(sum(cents) AS BIGINT),
       CAST(sum(cents) AS DOUBLE) / count(cents)
FROM t2 GROUP BY g
UNION ALL
SELECT '4_insert', g, count(*), count(cents), CAST(sum(cents) AS BIGINT),
       CAST(sum(cents) AS DOUBLE) / count(cents)
FROM t3 GROUP BY g
UNION ALL
SELECT '5_stale', g, count(*), count(cents), CAST(sum(cents) AS BIGINT),
       CAST(sum(cents) AS DOUBLE) / count(cents)
FROM t3 GROUP BY g
""",
    description=(
        "Materialized views on the statement surface (r13): CREATE "
        "MATERIALIZED VIEW over a CTAS table, then DELETE / UPDATE / "
        "INSERT each followed by REFRESH (the incremental change-feed "
        "fold — O(changes), never O(table)), a staleness phase proving "
        "reads serve the MATERIALIZED state (un-refreshed DML "
        "invisible), count/count(c)/sum/avg all maintained exactly; "
        "every phase's groups recomputed from scratch by the oracle"
    ),
    driver_exposed=False,  # r13 next-rotation candidate (surface at cap)
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def sql_mv_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The agg-view engine (ingest/agg_view.py) driven entirely as
    statement text (ingest/mview.py): one full aggregation at CREATE,
    then every REFRESH folds the base table's row-level change feed
    into the standing state — delta-sized reads, retraction-exact
    count/sum, avg derived at read time, groups disappearing at zero
    rows. The '5_stale' phase pins the materialized contract itself:
    DML without REFRESH must NOT move the view.

    Reference posture: the reference (main.go:47-54) only appends; a
    maintained aggregate over its output is the query-layer dual of
    that write contract. At 100 TB the refresh cost is O(|changes| +
    |view|) — the feed is manifest-diff planned, never a table scan."""
    from iceberg_file_writer_spark.sql_dml import execute_dml, execute_query

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SQL_MV_REPORTS:
        wh = tempfile.mkdtemp(prefix="sql-mv-wh-")
        load_tables(spark, sf_dir)
        execute_dml(
            spark,
            "CREATE TABLE mt AS SELECT o_orderkey, o_custkey % 100 AS g, "
            "CAST(FLOOR(o_totalprice) AS BIGINT) AS cents FROM orders",
            catalog=wh,
        )
        execute_dml(
            spark,
            "CREATE MATERIALIZED VIEW mv AS SELECT g, count(*) AS n, "
            "count(cents) AS nv, sum(cents) AS total, avg(cents) AS mean "
            "FROM mt GROUP BY g",
            catalog=wh,
        )

        def snap(phase: str) -> list:
            return [
                (phase, r.g, r.n, r.nv, r.total, r.mean)
                for r in execute_query(
                    spark,
                    "SELECT g, n, nv, total, mean FROM mv",
                    catalog=wh,
                ).collect()
            ]

        report = snap("1_init")
        for stmt, phase in (
            ("DELETE FROM mt WHERE g % 3 = 0", "2_delete"),
            ("UPDATE mt SET cents = 0 WHERE g % 7 = 1", "3_update"),
            (
                "INSERT INTO mt SELECT o_orderkey + 20000000 AS "
                "o_orderkey, (o_custkey % 100) + 100 AS g, "
                "CAST(FLOOR(o_totalprice) AS BIGINT) AS cents "
                "FROM orders WHERE o_orderkey < 20",
                "4_insert",
            ),
        ):
            execute_dml(spark, stmt, catalog=wh)
            execute_dml(spark, "REFRESH MATERIALIZED VIEW mv", catalog=wh)
            report += snap(phase)
        # staleness pin: DML withOUT refresh — the view must not move
        execute_dml(spark, "DELETE FROM mt WHERE g >= 100", catalog=wh)
        report += snap("5_stale")
        _SQL_MV_REPORTS[key] = report
    return spark.createDataFrame(
        _SQL_MV_REPORTS[key],
        "phase string, g bigint, n bigint, nv bigint, total bigint, "
        "mean double",
    )


_SQL_IDX_REPORTS: dict[tuple, list] = {}


@register(
    "sql_index_lifecycle",
    oracle="""
WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
k1 AS (SELECT o_custkey FROM orders ORDER BY o_orderkey LIMIT 1),
k2 AS (SELECT o_custkey FROM orders ORDER BY o_orderkey DESC LIMIT 1)
SELECT '1_point' AS phase, o_orderkey, o_custkey AS k, o_totalprice
FROM base WHERE o_custkey = (SELECT * FROM k1)
UNION ALL
SELECT '2_in', o_orderkey, o_custkey, o_totalprice FROM base
WHERE o_custkey IN ((SELECT * FROM k1), (SELECT * FROM k2))
UNION ALL
SELECT '3_renamed', o_orderkey, o_custkey, o_totalprice FROM base
WHERE o_custkey = (SELECT * FROM k1)
UNION ALL
SELECT '4_dropped', o_orderkey, o_custkey, o_totalprice FROM base
WHERE o_custkey = (SELECT * FROM k1)
""",
    description=(
        "Index DDL on the statement surface (r13): CREATE INDEX ... "
        "USING BLOOM on a CTAS table, point + IN probes through "
        "execute_query's pruned-scan substitution, RENAME of the "
        "indexed column (the field-id-keyed sidecar keeps probing), "
        "then DROP INDEX (a metadata-only detach commit) with the "
        "probe still value-exact — every phase recomputed by the "
        "oracle as plain filters over the source parquet"
    ),
    driver_exposed=False,  # r13 next-rotation candidate (surface at cap)
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def sql_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index lifecycle driven entirely as statement text:
    attach (incremental sidecar build), probe (the conservative
    single-table substitution routes WHERE k = v through the one scan
    planner — zone maps + bloom exclude files before
    any data IO), survive a rename (sidecars key on FIELD ID), detach
    (metadata-only commit, zero bytes move). File-count reduction is
    pinned in tests/test_sql_index.py; THIS entry pins that pruning
    never costs a row — probes before/under/after the index return
    byte-identical values.

    At 100 TB: a point lookup touches O(bloom sidecar) metadata + the
    surviving files only; the index refresh after appends indexes NEW
    files only (covered files skip)."""
    from iceberg_file_writer_spark.sql_dml import execute_dml, execute_query

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SQL_IDX_REPORTS:
        wh = tempfile.mkdtemp(prefix="sql-idx-wh-")
        load_tables(spark, sf_dir)
        execute_dml(
            spark,
            "CREATE TABLE it AS SELECT o_orderkey, o_custkey, "
            "o_totalprice FROM orders",
            catalog=wh,
        )
        execute_dml(
            spark, "CREATE INDEX ON it (o_custkey) USING BLOOM", catalog=wh
        )
        k1, k2 = (
            spark.sql(
                "SELECT first(o_custkey) AS k FROM (SELECT o_custkey "
                "FROM orders ORDER BY o_orderkey LIMIT 1)"
            ).first().k,
            spark.sql(
                "SELECT first(o_custkey) AS k FROM (SELECT o_custkey "
                "FROM orders ORDER BY o_orderkey DESC LIMIT 1)"
            ).first().k,
        )

        def probe(phase: str, col: str, pred: str) -> list:
            return [
                (phase, r.o_orderkey, r.k, r.o_totalprice)
                for r in execute_query(
                    spark,
                    f"SELECT o_orderkey, {col} AS k, o_totalprice "
                    f"FROM it WHERE {pred}",
                    catalog=wh,
                ).collect()
            ]

        report = probe("1_point", "o_custkey", f"o_custkey = {k1}")
        report += probe("2_in", "o_custkey", f"o_custkey IN ({k1}, {k2})")
        execute_dml(
            spark, "ALTER TABLE it RENAME COLUMN o_custkey TO ck", catalog=wh
        )
        report += probe("3_renamed", "ck", f"ck = {k1}")
        execute_dml(spark, "DROP INDEX ON it", catalog=wh)
        report += probe("4_dropped", "ck", f"ck = {k1}")
        _SQL_IDX_REPORTS[key] = report
    return spark.createDataFrame(
        _SQL_IDX_REPORTS[key],
        "phase string, o_orderkey bigint, k bigint, o_totalprice double",
    )


_SQL_COPY_REPORTS: dict[tuple, list] = {}


@register(
    "sql_copy_lifecycle",
    oracle="""
WITH t1 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
ins AS (SELECT o_orderkey + 30000000 AS o_orderkey, o_custkey,
               o_totalprice
        FROM orders WHERE o_orderkey < 50),
t2 AS (SELECT * FROM t1 UNION ALL SELECT * FROM ins)
SELECT '1_loaded' AS phase, o_custkey % 50 AS g,
       count(*) AS n, CAST(sum(FLOOR(o_totalprice)) AS BIGINT) AS s
FROM t1 GROUP BY o_custkey % 50
UNION ALL
SELECT '2_recopy_noop', o_custkey % 50, count(*),
       CAST(sum(FLOOR(o_totalprice)) AS BIGINT)
FROM t1 GROUP BY o_custkey % 50
UNION ALL
SELECT '3_incremental', o_custkey % 50, count(*),
       CAST(sum(FLOOR(o_totalprice)) AS BIGINT)
FROM t2 GROUP BY o_custkey % 50
""",
    description=(
        "COPY INTO lifecycle (r13): the reference's ingestion pipeline "
        "as statement text — bulk load source parquet into a DDL-born "
        "mapped table (target-shaped projection drops extra source "
        "columns), a RE-RUN that must be a file-ledger no-op (phase 2 "
        "equals phase 1 and commits nothing), then an incremental COPY "
        "of a second source directory; every phase's per-group "
        "aggregates recomputed by the oracle from the raw parquet"
    ),
    driver_exposed=False,  # r13 next-rotation candidate (surface at cap)
    eager=True,  # builds/loads a trained artifact or runs a stream at plan time
)
def sql_copy_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference operator set (main.go:117-141: list record files,
    decode, land in a partitioned table) re-expressed as ONE statement
    with the restart contract its channel pipeline lacks: the
    manifest's "copied" ledger is committed atomically with the data,
    so a crashed or re-scheduled COPY never double-loads a file —
    exactly-once per (path, mtime, size) without any external state.

    At 100 TB: per-COPY cost is one source LIST + executor-parallel
    reads of UNSEEN files only; the skip check is manifest metadata."""
    from iceberg_file_writer_spark.sql_dml import execute_dml, execute_query

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SQL_COPY_REPORTS:
        wh = tempfile.mkdtemp(prefix="sql-copy-wh-")
        load_tables(spark, sf_dir)
        execute_dml(
            spark,
            "CREATE TABLE ct (o_orderkey BIGINT, o_custkey BIGINT, "
            "o_totalprice DOUBLE)",
            catalog=wh,
        )
        src1 = os.path.join(sf_dir, "orders.parquet")

        def snap(phase: str) -> list:
            return [
                (phase, r.g, r.n, r.s)
                for r in execute_query(
                    spark,
                    "SELECT o_custkey % 50 AS g, count(*) AS n, "
                    "CAST(sum(FLOOR(o_totalprice)) AS BIGINT) AS s "
                    "FROM ct GROUP BY o_custkey % 50",
                    catalog=wh,
                ).collect()
            ]

        rep1 = execute_dml(
            spark, f"COPY INTO ct FROM '{src1}'", catalog=wh
        )
        assert rep1["files_loaded"] > 0
        report = snap("1_loaded")
        rep2 = execute_dml(
            spark, f"COPY INTO ct FROM '{src1}'", catalog=wh
        )
        # the re-run's no-op is part of the checked contract: phase 2
        # must reproduce phase 1 exactly, with zero files loaded
        assert rep2["files_loaded"] == 0
        report += snap("2_recopy_noop")
        src2 = os.path.join(wh, "_src2")
        spark.sql(
            "SELECT o_orderkey + 30000000 AS o_orderkey, o_custkey, "
            "o_totalprice FROM orders WHERE o_orderkey < 50"
        ).coalesce(1).write.parquet(src2)
        execute_dml(spark, f"COPY INTO ct FROM '{src2}'", catalog=wh)
        report += snap("3_incremental")
        _SQL_COPY_REPORTS[key] = report
    return spark.createDataFrame(
        _SQL_COPY_REPORTS[key],
        "phase string, g bigint, n bigint, s bigint",
    )
