"""Index DDL on the statement surface (CREATE/DROP INDEX, SHOW
INDEXES) and the conservative pruned-scan substitution inside
execute_query: single-table filtered SELECTs read only files the zone
maps + bloom sidecars cannot exclude — row-identical to the full scan
by construction, with the file counts exposed for pinning.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from iceberg_file_writer_spark.ingest.snapshots import (
    commit_append,
    current_version,
    read_manifest,
)
from iceberg_file_writer_spark.sql_dml import (
    execute_dml,
    execute_query,
    execute_script,
)

N = 1000
FILE_ROWS = 100


def _scrambled(i: int) -> int:
    # values scattered across insertion order: every 100-row file spans
    # nearly the full domain, so min/max zone maps cannot prune a point
    # probe — only the bloom sidecar can
    return (i * 7919) % N


@pytest.fixture(scope="module")
def plain(spark):
    """Plain snapshot table, 10 files, bloom-hostile value layout."""
    t = os.path.join(tempfile.mkdtemp(prefix="idx-"), "t")
    df = spark.createDataFrame(
        [(i, _scrambled(i), f"s{i % 7}") for i in range(N)],
        "id bigint, h bigint, tag string",
    ).coalesce(1).sortWithinPartitions("id")
    commit_append(spark, df, t, max_rows=FILE_ROWS)
    return t


def _probe(spark, t, sql, tables=None):
    got = execute_query(spark, sql, tables or {"t": t}).collect()
    return got, execute_query.last_scan


class TestCreateIndex:
    def test_create_returns_indexed_file_count(self, spark, plain):
        n = execute_dml(
            spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": plain}
        )
        assert n == N // FILE_ROWS
        # idempotent: everything already covered
        assert (
            execute_dml(
                spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": plain}
            )
            == 0
        )

    def test_point_probe_prunes_files_and_is_exact(self, spark, plain):
        execute_dml(spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": plain})
        val = _scrambled(123)
        got, (kept, total) = _probe(
            spark, plain, f"SELECT id, h FROM t WHERE h = {val}"
        )
        assert {(r.id, r.h) for r in got} == {(123, val)}
        assert total == N // FILE_ROWS
        assert kept < total  # bloom excluded files zone maps could not

    def test_in_list_probe(self, spark, plain):
        execute_dml(spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": plain})
        vals = [_scrambled(i) for i in (5, 250, 777)]
        got, (kept, total) = _probe(
            spark,
            plain,
            "SELECT id FROM t WHERE h IN (%s) ORDER BY id"
            % ", ".join(map(str, vals)),
        )
        assert [r.id for r in got] == [5, 250, 777]
        assert kept < total

    def test_incremental_recreate_covers_new_files(self, spark, plain):
        execute_dml(spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": plain})
        extra = spark.createDataFrame(
            [(N + i, _scrambled(i) + N, "x") for i in range(FILE_ROWS)],
            "id bigint, h bigint, tag string",
        ).coalesce(1)
        commit_append(spark, extra, plain, max_rows=FILE_ROWS)
        n = execute_dml(
            spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": plain}
        )
        assert n == 1  # only the new file needed indexing

    def test_show_indexes(self, spark, plain):
        execute_dml(spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": plain})
        rows = execute_query(
            spark, "SHOW INDEXES ON t", {"t": plain}
        ).collect()
        byc = {r.column: r for r in rows}
        assert byc["h"].kind == "bloom"
        assert byc["h"].files_covered == byc["h"].files_total


class TestPrunedScanSafety:
    """The substitution must be invisible: every gated shape falls back
    to the full read, and the pruned read is value-identical."""

    def test_or_query_not_pruned(self, spark, plain):
        execute_dml(spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": plain})
        v1, v2 = _scrambled(1), _scrambled(901)
        got, last = _probe(
            spark,
            plain,
            f"SELECT id FROM t WHERE h = {v1} OR h = {v2} ORDER BY id",
        )
        assert [r.id for r in got] == [1, 901]
        assert last is None  # gate: OR disables the substitution

    def test_join_query_not_pruned(self, spark, plain):
        val = _scrambled(3)
        got = execute_query(
            spark,
            f"SELECT a.id FROM t a JOIN t b ON a.id = b.id "
            f"WHERE a.h = {val}",
            {"t": plain},
        ).collect()
        assert [r.id for r in got] == [3]
        assert execute_query.last_scan is None

    def test_aggregate_over_pruned_scan(self, spark, plain):
        execute_dml(spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": plain})
        val = _scrambled(42)
        got, (kept, total) = _probe(
            spark,
            plain,
            f"SELECT count(*) AS n FROM t WHERE h = {val} AND id >= 0",
        )
        assert got[0].n == 1 and kept < total

    def test_range_conjunct_uses_zone_maps(self, spark, plain):
        # id is file-clustered: a range predicate prunes on stats alone
        got, (kept, total) = _probe(
            spark,
            plain,
            "SELECT count(*) AS n FROM t WHERE id >= 0 AND id < 100",
        )
        assert got[0].n == 100
        assert kept <= 2 < total

    def test_double_literal_survives_conservatively(self, spark, plain):
        execute_dml(spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": plain})
        val = float(_scrambled(7))
        got, _ = _probe(
            spark, plain, f"SELECT id FROM t WHERE h = {val}"
        )
        # bloom probes skip double literals (string-render mismatch);
        # the row must still come back through the residual
        assert [r.id for r in got] == [7]

    def test_versioned_reads_not_substituted(self, spark, plain):
        v = current_version(plain)
        got = execute_query(
            spark,
            f"SELECT count(*) AS n FROM t VERSION AS OF {v} "
            f"WHERE h = {_scrambled(9)}",
            {"t": plain},
        ).collect()
        assert got[0].n >= 1
        assert execute_query.last_scan is None


class TestDropIndex:
    def test_drop_index_detaches_and_commits(self, spark):
        t = os.path.join(tempfile.mkdtemp(prefix="idxd-"), "t")
        df = spark.createDataFrame(
            [(i, _scrambled(i)) for i in range(300)], "id bigint, h bigint"
        ).coalesce(1)
        commit_append(spark, df, t, max_rows=FILE_ROWS)
        execute_dml(spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": t})
        v0 = current_version(t)
        v1 = execute_dml(spark, "DROP INDEX ON t", {"t": t})
        assert v1 == v0 + 1
        assert not read_manifest(t, v1).get("bloom")
        # reads still correct, probe no longer bloom-pruned
        val = _scrambled(5)
        got, last = _probe(
            spark, t, f"SELECT id FROM t WHERE h = {val}", {"t": t}
        )
        assert [r.id for r in got] == [5]
        assert execute_query(
            spark, "SHOW INDEXES ON t", {"t": t}
        ).count() == 0

    def test_drop_without_index_is_error(self, spark):
        t = os.path.join(tempfile.mkdtemp(prefix="idxe-"), "t")
        commit_append(
            spark, spark.range(5).toDF("id"), t, max_rows=10
        )
        with pytest.raises(ValueError, match="no index"):
            execute_dml(spark, "DROP INDEX ON t", {"t": t})


class TestMappedIndexLifecycle:
    def test_index_survives_rename_on_mapped_table(self, spark):
        wh = tempfile.mkdtemp(prefix="idxm-")
        spark.createDataFrame(
            [(i, _scrambled(i)) for i in range(N)], "id bigint, h bigint"
        ).createOrReplaceTempView("idx_src")
        execute_script(
            spark,
            """
            CREATE TABLE mt AS SELECT id, h FROM idx_src;
            CREATE INDEX ON mt (h) USING BLOOM;
            ALTER TABLE mt RENAME COLUMN h TO hv;
            """,
            catalog=wh,
        )
        val = _scrambled(321)
        got = execute_query(
            spark, f"SELECT id, hv FROM mt WHERE hv = {val}", catalog=wh
        ).collect()
        assert {(r.id, r.hv) for r in got} == {(321, val)}
        kept, total = execute_query.last_scan
        assert kept < total  # field-id-keyed sidecar probes post-rename
        rows = execute_query(
            spark, "SHOW INDEXES ON mt", catalog=wh
        ).collect()
        assert [r.column for r in rows] == ["hv"]  # current name


class TestTypedConjunctGate:
    """A wrong-typed literal must never prune: the bloom sidecar and the
    string-rendered stats compare against CAST renderings, so a
    mismatched probe could false-negative — these pin the type gate."""

    def test_int_literal_on_double_column_keeps_rows(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, float(_scrambled(i))) for i in range(300)],
            "id bigint, d double",
        ).coalesce(1)
        commit_append(spark, df, t, max_rows=FILE_ROWS)
        execute_dml(spark, "CREATE INDEX ON t (d) USING BLOOM", {"t": t})
        val = _scrambled(17)  # integer literal against the DOUBLE column
        got = execute_query(
            spark, f"SELECT id FROM t WHERE d = {val}", {"t": t}
        ).collect()
        # bloom stored '<v>.0'; a raw '<v>' probe would prune every
        # file — the gate promotes the literal to float, bloom skips it
        assert [r.id for r in got] == [17]

    def test_string_literal_on_timestamp_column_keeps_rows(
        self, spark, tmp_path
    ):
        import datetime

        t = str(tmp_path / "t")
        rows = [
            (i, datetime.datetime(2024, 1, 1 + (i % 9)))
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "id bigint, ts timestamp")
        commit_append(spark, df.coalesce(1), t, max_rows=50)
        # truncated form: Spark casts to midnight; the stats strings are
        # fixed-width — an equality string-probe would false-negative
        got = execute_query(
            spark,
            "SELECT count(*) AS n FROM t WHERE ts = '2024-01-05'",
            {"t": t},
        ).collect()
        assert got[0].n == len([r for r in rows if r[1].day == 5])
        assert execute_query.last_scan is None  # conjunct dropped

    def test_string_literal_on_int_column_keeps_rows(self, spark, plain):
        got = execute_query(
            spark, "SELECT id FROM t WHERE id = '5'", {"t": plain}
        ).collect()
        assert [r.id for r in got] == [5]
        assert execute_query.last_scan is None  # dropped, full read

    def test_case_insensitive_column_still_prunes(self, spark, plain):
        execute_dml(spark, "CREATE INDEX ON t (h) USING BLOOM", {"t": plain})
        val = _scrambled(88)
        got = execute_query(
            spark, f"SELECT id FROM t WHERE H = {val}", {"t": plain}
        ).collect()
        assert [r.id for r in got] == [88]
        kept, total = execute_query.last_scan  # canonical-name rewrite
        assert kept < total


def test_bucket_spec_prunes_sql_point_read(spark, tmp_path):
    """A single-table SELECT on a bucket-spec'd plain table plans like
    ``SnapshotTable.scan``: the spec's hidden bucket probe prunes files
    that the raw column's min/max cannot."""
    from iceberg_file_writer_spark.table_api import SnapshotTable

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(f"u{i % 97}", i) for i in range(4000)], "user_id string, v bigint"
    )
    tab = SnapshotTable.create(
        spark, t, df, spec=[("bucket", 8, "user_id")], max_rows=100
    )
    tab.scan([("user_id", "=", "u5")])
    from iceberg_file_writer_spark.ingest.partitioning import (
        scan_partitioned,
    )

    want = scan_partitioned.last_files
    got = execute_query(
        spark, "SELECT * FROM t WHERE user_id = 'u5'", {"t": t}
    ).collect()
    assert sorted(r.v for r in got) == [i for i in range(4000) if i % 97 == 5]
    kept, total = execute_query.last_scan
    assert (kept, total) == want
    assert kept < total


def test_bucket_spec_on_double_keeps_rows_sql(spark, tmp_path):
    """Python renders 1e7 as '10000000.0' but Spark's CAST to string
    gives '1.0E7', so a bucket id hashed from a float literal can name
    the wrong bucket. A SQL point read on a double bucket column must
    still return the row: float literals add no bucket probe."""
    from iceberg_file_writer_spark.table_api import SnapshotTable

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i * 1e4) for i in range(4000)], "k bigint, d double"
    )
    SnapshotTable.create(spark, t, df, spec=[("bucket", 8, "d")], max_rows=100)
    for sql, want in (
        ("SELECT k FROM t WHERE d = 10000000", [1000]),
        ("SELECT k FROM t WHERE d = 25000000.0", [2500]),
        ("SELECT k FROM t WHERE d IN (10000000, 30000000)", [1000, 3000]),
    ):
        got = execute_query(spark, sql, {"t": t}).collect()
        assert sorted(r.k for r in got) == want, sql
