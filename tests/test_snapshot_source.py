"""Incremental streaming source over snapshot tables: offsets are
snapshot versions, batches are manifest diffs, restarts resume."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from iceberg_file_writer_spark.ingest.snapshots import (
    commit_append,
    commit_delete_where,
)
from iceberg_file_writer_spark.sources.snapshot_stream import (
    register_snapshot_source,
)
from iceberg_file_writer_spark.tables import load_tables

SF_DIR = "/root/testdata/sf0.001"


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def orders(spark):
    return load_tables(spark, SF_DIR)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def _drain(spark, table, sink, ckpt, **opts):
    register_snapshot_source(spark)
    reader = spark.readStream.format("snapshot_table").option("path", table)
    for k, v in opts.items():
        reader = reader.option(k, v)
    # Python micro-batch sources don't support Trigger.AvailableNow
    # (Spark falls back to ONE batch); drive with processAllAvailable
    q = (
        reader.load()
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


def test_stream_reads_appends_and_resumes(spark, tmp_path, orders):
    """Three appends stream through; a later run over the SAME checkpoint
    picks up only commits made since — exactly-once across restarts."""
    t = str(tmp_path / "tbl")
    a = orders.where("o_orderkey % 3 = 0")
    b = orders.where("o_orderkey % 3 = 1")
    c = orders.where("o_orderkey % 3 = 2")
    commit_append(spark, a, t, max_rows=300)
    commit_append(spark, b, t, max_rows=300)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _drain(spark, t, sink, ckpt, maxVersionsPerBatch="1")
    got = spark.read.parquet(sink)
    assert _canon(got) == _canon(a.unionByName(b))
    # table advances while the stream is down; the restart reads the delta
    commit_append(spark, c, t, max_rows=300)
    _drain(spark, t, sink, ckpt, maxVersionsPerBatch="1")
    assert _canon(spark.read.parquet(sink)) == _canon(orders)


def test_stream_rejects_row_removal_by_default(spark, tmp_path, orders):
    t = str(tmp_path / "tbl")
    commit_append(spark, orders, t)
    commit_delete_where(spark, t, "o_custkey % 2 = 0")
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    with pytest.raises(Exception, match="append stream cannot express"):
        _drain(spark, t, sink, ckpt)


def test_stream_skip_non_appends_skips_rewrites(spark, tmp_path, orders):
    """skipNonAppends: rewrite-type ops (CoW delete here) re-lay out
    EXISTING rows into new files — emitting those "added" files would
    duplicate already-streamed rows downstream, so the version is
    skipped entirely (Iceberg's streaming read skips REPLACE snapshots
    the same way). Appends after the rewrite diff against the
    post-rewrite layout and still stream exactly once."""
    t = str(tmp_path / "tbl")
    half = orders.where("o_orderkey % 2 = 0")
    commit_append(spark, half, t)
    commit_delete_where(spark, t, "o_custkey % 2 = 0")  # rewrites files
    more = orders.where("o_orderkey % 2 = 1")
    commit_append(spark, more, t)
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    _drain(spark, t, sink, ckpt, skipNonAppends="true")
    got = spark.read.parquet(sink)
    # both appends, nothing from the delete's survivor rewrites
    assert _canon(got) == _canon(half.unionByName(more))


def test_stream_skip_non_appends_compaction_not_reemitted(spark, tmp_path, orders):
    """A routine compaction mid-stream must NOT re-emit the whole table
    as duplicates (the pre-round-9 behavior): its files are skipped and
    the next append streams only its own rows."""
    from iceberg_file_writer_spark.ingest.snapshots import commit_compact

    t = str(tmp_path / "tbl")
    a = orders.where("o_orderkey % 3 = 0")
    b = orders.where("o_orderkey % 3 = 1")
    commit_append(spark, a, t, max_rows=300)
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    _drain(spark, t, sink, ckpt, skipNonAppends="true")
    assert _canon(spark.read.parquet(sink)) == _canon(a)
    commit_compact(spark, t)  # rewrites every file
    commit_append(spark, b, t, max_rows=300)
    _drain(spark, t, sink, ckpt, skipNonAppends="true")
    assert _canon(spark.read.parquet(sink)) == _canon(a.unionByName(b))


def test_stream_drops_hidden_layout_columns(spark, tmp_path, orders):
    from iceberg_file_writer_spark.ingest.partitioning import (
        commit_append_partitioned,
    )

    t = str(tmp_path / "tbl")
    commit_append_partitioned(
        spark, orders, t, spec=[("bucket", 4, "o_custkey")]
    )
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    _drain(spark, t, sink, ckpt)
    got = spark.read.parquet(sink)
    assert got.columns == ["o_orderkey", "o_custkey", "o_totalprice"]
    assert _canon(got) == _canon(orders)


def test_stream_expired_history_raises_actionably(spark, tmp_path, orders):
    from iceberg_file_writer_spark.ingest.snapshots import expire_snapshots

    t = str(tmp_path / "tbl")
    for r in range(4):
        commit_append(spark, orders.where(f"o_orderkey % 4 = {r}"), t)
    expire_snapshots(t, keep_last=1, data_grace_seconds=0)
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    with pytest.raises(Exception, match="expired or missing"):
        _drain(spark, t, sink, ckpt)


def test_stream_nullfills_pre_evolution_files(spark, tmp_path, orders):
    """Additive column evolution: files written before the new column
    existed stream with NULLs in it (the declared schema comes from the
    newest footer; older batches normalize to it), matching the batch
    read's mergeSchema contract."""
    t = str(tmp_path / "tbl")
    commit_append(spark, orders, t)
    evolved = orders.limit(7).withColumn("o_priority", F.lit("HIGH"))
    commit_append(spark, evolved, t)
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    _drain(spark, t, sink, ckpt)
    got = spark.read.parquet(sink)
    assert set(got.columns) == {
        "o_orderkey", "o_custkey", "o_totalprice", "o_priority"
    }
    assert got.where("o_priority IS NULL").count() == orders.count()
    assert got.where("o_priority = 'HIGH'").count() == 7


def test_stream_starting_version_tails_later_commits(spark, tmp_path, orders):
    """startingVersion: bootstrap with a batch read, tail the rest —
    versions <= the start are never emitted."""
    t = str(tmp_path / "tbl")
    a = orders.where("o_orderkey % 2 = 0")
    b = orders.where("o_orderkey % 2 = 1")
    commit_append(spark, a, t)
    commit_append(spark, b, t)
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    _drain(spark, t, sink, ckpt, startingVersion="1")
    assert _canon(spark.read.parquet(sink)) == _canon(b)


# --- property: any append/upsert interleaving streams its added rows ---------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_batches = st.lists(
    st.tuples(
        st.sampled_from(["append", "upsert"]),
        st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 99)),
            min_size=1,
            max_size=4,
        ),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=_batches)
def test_source_streams_exactly_the_added_rows(spark, tmp_path_factory, batches):
    """Property: for ANY interleaving of appends and MoR upserts, the
    snapshot source (skipNonAppends) delivers exactly the rows each
    commit ADDED — the additions feed — regardless of batch shapes,
    duplicate keys, or upserts shadowing earlier rows."""
    from iceberg_file_writer_spark.ingest.equality_deletes import commit_upsert

    t = str(tmp_path_factory.mktemp("snap-src-prop") / "tbl")
    added = []
    for op, rows in batches:
        if op == "upsert":
            # upsert requires at most one row per key within the batch
            rows = list({k: (k, v) for k, v in rows}.values())
        df = spark.createDataFrame(rows, "k long, v long")
        if op == "append":
            commit_append(spark, df, t)
        else:
            commit_upsert(spark, t, df, ["k"])
        added.extend(rows)
    out = str(tmp_path_factory.mktemp("snap-src-prop") / "out")
    ckpt = str(tmp_path_factory.mktemp("snap-src-prop") / "ckpt")
    _drain(spark, t, out, ckpt, skipNonAppends="true", maxVersionsPerBatch="1")
    assert _canon(spark.read.parquet(out)) == sorted(added)


def test_batch_reader_version_and_timestamp_asof(spark, tmp_path, orders):
    """spark.read.format('snapshot_table'): CURRENT, VERSION AS OF, and
    TIMESTAMP AS OF batch reads through the DataSource API."""
    import time

    t = str(tmp_path / "tbl")
    a = orders.where("o_orderkey % 2 = 0")
    commit_append(spark, a, t)
    time.sleep(0.02)
    between = int(time.time() * 1000)
    time.sleep(0.02)
    commit_append(spark, orders.where("o_orderkey % 2 = 1"), t)
    register_snapshot_source(spark)

    def rd(**opts):
        r = spark.read.format("snapshot_table").option("path", t)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    assert _canon(rd()) == _canon(orders)  # CURRENT
    assert _canon(rd(versionAsOf="1")) == _canon(a)
    assert _canon(rd(timestampAsOf=str(between))) == _canon(a)


def test_batch_reader_applies_equality_deletes(spark, tmp_path, orders):
    """Round-9 directive: the format quartet's last hole. A MoR-state
    snapshot (equality deletes from an upsert) reads through
    format("snapshot_table") row-identically to the join-based
    read_table_version — the per-task Arrow apply, Iceberg's model."""
    from iceberg_file_writer_spark.ingest.equality_deletes import commit_upsert
    from iceberg_file_writer_spark.ingest.snapshots import read_table_version

    t = str(tmp_path / "tbl")
    commit_append(spark, orders, t, max_rows=300)
    upd = orders.limit(5).withColumn("o_totalprice", F.lit(0.0))
    commit_upsert(spark, t, upd, ["o_orderkey"])
    register_snapshot_source(spark)
    got = spark.read.format("snapshot_table").option("path", t).load()
    want = read_table_version(spark, t)
    assert _canon(got) == _canon(want)
    assert got.where("o_totalprice = 0.0").count() >= 5
    # second upsert layer: seq scoping (newer rows must NOT be deleted
    # by older tombstones) across two delete files
    upd2 = orders.limit(3).withColumn("o_totalprice", F.lit(9.0))
    commit_upsert(spark, t, upd2, ["o_orderkey"])
    got2 = spark.read.format("snapshot_table").option("path", t).load()
    assert _canon(got2) == _canon(read_table_version(spark, t))
    assert got2.count() == orders.count()


def test_batch_reader_applies_deletion_vectors(spark, tmp_path, orders):
    """Positional DV tombstones apply per task (pushdown-probed by file
    name); combined DV + pushed filter stays row-identical."""
    from iceberg_file_writer_spark.ingest.deletion_vectors import (
        commit_delete_where_mor,
    )
    from iceberg_file_writer_spark.ingest.snapshots import read_table_version

    t = str(tmp_path / "tbl")
    commit_append(spark, orders, t, max_rows=300)
    commit_delete_where_mor(spark, t, "o_custkey % 3 = 0")
    register_snapshot_source(spark)
    got = spark.read.format("snapshot_table").option("path", t).load()
    want = orders.where("o_custkey % 3 <> 0")
    assert _canon(got) == _canon(want)
    assert _canon(got) == _canon(read_table_version(spark, t))
    med = int(orders.agg(F.expr("percentile_approx(o_orderkey,0.5)")).first()[0])
    got_f = (
        spark.read.format("snapshot_table").option("path", t).load()
        .where(F.col("o_orderkey") >= med)
    )
    assert _canon(got_f) == _canon(want.where(F.col("o_orderkey") >= med))


def test_batch_reader_pushdown_skips_files(spark, tmp_path, orders):
    """Filter pushdown through the format: manifest stats prune the file
    list (unit-checked on the reader), and the filtered read stays
    row-identical to the unpruned scan (Spark re-applies every filter)."""
    from iceberg_file_writer_spark.sources import snapshot_stream as ss

    t = str(tmp_path / "tbl")
    # sorted by key: each 200-row file covers a tight o_orderkey range
    commit_append(spark, orders.orderBy("o_orderkey"), t, max_rows=200)
    reader = ss._SnapshotBatchReader(orders.schema, {"path": t})
    total = reader.files_total
    assert total >= 5
    from pyspark.sql.datasource import GreaterThan, LessThanOrEqual

    maxk = orders.agg(F.max("o_orderkey")).first()[0]
    fs = [GreaterThan(("o_orderkey",), int(maxk) - 50)]
    residual = list(reader.pushFilters(fs))
    assert residual == fs  # skipping hint only: Spark re-applies
    assert len(reader.files) < total  # files were genuinely skipped
    # end-to-end values match the plain filtered read
    register_snapshot_source(spark)
    got = (
        spark.read.format("snapshot_table").option("path", t).load()
        .where(F.col("o_orderkey") > maxk - 50)
    )
    want = orders.where(F.col("o_orderkey") > maxk - 50)
    assert _canon(got) == _canon(want)
    # unsupported shapes (nested attrs / exotic filters) prune nothing
    r2 = ss._SnapshotBatchReader(orders.schema, {"path": t})
    r2.pushFilters([LessThanOrEqual(("a", "b"), 1)])
    assert len(r2.files) == total


def test_batch_reader_pushdown_prunes_bucket_spec(spark, tmp_path):
    """On a bucket-spec'd plain table, the format's pushFilters keeps
    exactly the files ``scan_table``'s planner keeps for an equality and
    an IN probe on the bucketed column, and an IN filter reads back
    exactly through the format."""
    from pyspark.sql.datasource import EqualTo, In

    from iceberg_file_writer_spark.ingest.file_skipping import _plan_scan
    from iceberg_file_writer_spark.ingest.partitioning import (
        commit_append_partitioned,
    )
    from iceberg_file_writer_spark.ingest.snapshots import read_manifest
    from iceberg_file_writer_spark.sources import snapshot_stream as ss

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(f"u{i % 97}", i) for i in range(4000)], "user_id string, v bigint"
    )
    commit_append_partitioned(
        spark, df, t, [("bucket", 8, "user_id")], max_rows=100
    )
    files = read_manifest(t, 1)["files"]
    for f, conj in (
        (EqualTo(("user_id",), "u5"), [("user_id", "=", "u5")]),
        (
            In(("user_id",), ("u5", "u17", None)),
            [("user_id", "in", ["u5", "u17", None])],
        ),
    ):
        reader = ss._SnapshotBatchReader(df.schema, {"path": t})
        reader.pushFilters([f])
        got = sorted(e["path"] for e in reader.files)
        plan = _plan_scan(spark, t, conj, None)
        assert got == sorted(e["path"] for e in plan.kept), conj
        assert len(got) < len(files), conj
    # an IN filter pushed through the format reads back exactly
    register_snapshot_source(spark)
    n = (
        spark.read.format("snapshot_table").option("path", t).load()
        .where("user_id IN ('u5', 'u17')").count()
    )
    assert n == len([i for i in range(4000) if i % 97 in (5, 17)])


def test_stream_passes_metadata_only_commits(spark, tmp_path, orders):
    """respec/evolve commits have an empty file diff and zero row effect:
    the stream passes them without skipNonAppends and emits nothing for
    them."""
    from iceberg_file_writer_spark.ingest.partitioning import commit_respec

    t = str(tmp_path / "tbl")
    a = orders.where("o_orderkey % 2 = 0")
    b = orders.where("o_orderkey % 2 = 1")
    commit_append(spark, a, t)
    commit_respec(t, [("bucket", 4, "o_custkey")])
    commit_append(spark, b, t)  # clusters by the new spec
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    _drain(spark, t, sink, ckpt, maxVersionsPerBatch="1")
    got = spark.read.parquet(sink)
    # hidden layout columns of the post-respec files never surface
    assert set(got.columns) == set(orders.columns)
    assert _canon(got.select(*orders.columns)) == _canon(orders)


def test_trigger_planning_parses_only_the_segment_delta(spark, tmp_path,
                                                        orders, monkeypatch):
    """Round-9: per-trigger planning diffs content-addressed manifest
    segments — an append's shared sealed prefix is never opened, so
    planning cost is O(files added), not O(table files). Parity with
    the full diff pinned, incl. the rewrite fallback."""
    import iceberg_file_writer_spark.ingest.snapshots as SN
    from iceberg_file_writer_spark.ingest.snapshots import (
        commit_append,
        commit_compact,
        read_manifest,
    )
    from iceberg_file_writer_spark.sources.snapshot_stream import (
        _added_entries,
        _manifest_raw,
    )

    monkeypatch.setattr(SN, "MANIFEST_SEGMENT_SIZE", 4)
    t = str(tmp_path / "tbl")
    commit_append(spark, orders.where("o_orderkey % 3 = 0"), t, max_rows=60)
    commit_append(spark, orders.where("o_orderkey % 3 = 1"), t, max_rows=60)
    r1, r2 = _manifest_raw(t, 1), _manifest_raw(t, 2)
    assert len(r2.get("segments") or []) > 3, "fixture not segmented"
    added = _added_entries(t, r1, r2)
    f1 = {e["path"] for e in read_manifest(t, 1)["files"]}
    want = [e for e in read_manifest(t, 2)["files"] if e["path"] not in f1]
    assert sorted(e["path"] for e in added) == sorted(e["path"] for e in want)
    # the shared sealed prefix was never opened
    shared = len(set(r1.get("segments") or []) & set(r2.get("segments") or []))
    assert shared > 0
    assert _added_entries.last_parsed <= len(r2["segments"]) - shared
    # rewrite fallback: compaction re-chunks -> full diff, still exact
    commit_compact(spark, t)
    r3 = _manifest_raw(t, 3)
    added3 = _added_entries(t, r2, r3)
    f2 = {e["path"] for e in read_manifest(t, 2)["files"]}
    want3 = [e for e in read_manifest(t, 3)["files"] if e["path"] not in f2]
    assert sorted(e["path"] for e in added3) == sorted(
        e["path"] for e in want3
    )


def test_stream_over_segmented_manifests(spark, tmp_path, orders, monkeypatch):
    """End-to-end: the source streams exactly-once across two-level
    manifests (sealed segments + tails) and a restart delta."""
    import iceberg_file_writer_spark.ingest.snapshots as SN

    monkeypatch.setattr(SN, "MANIFEST_SEGMENT_SIZE", 4)
    t = str(tmp_path / "tbl")
    a = orders.where("o_orderkey % 3 = 0")
    b = orders.where("o_orderkey % 3 = 1")
    c = orders.where("o_orderkey % 3 = 2")
    commit_append(spark, a, t, max_rows=60)
    commit_append(spark, b, t, max_rows=60)
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    _drain(spark, t, sink, ckpt, maxVersionsPerBatch="1")
    assert _canon(spark.read.parquet(sink)) == _canon(a.unionByName(b))
    commit_append(spark, c, t, max_rows=60)
    _drain(spark, t, sink, ckpt, maxVersionsPerBatch="1")
    assert _canon(spark.read.parquet(sink)) == _canon(orders)


def test_format_batch_read_resolves_mapped_by_field_id(spark, tmp_path):
    """spark.read.format("snapshot_table") on a COLUMN-MAPPED table:
    pre-rename epochs surface under the CURRENT names (field-id
    resolution), recycled names never resurrect, and MoR equality
    deletes apply even when a key column was renamed after the
    tombstone was written."""
    from iceberg_file_writer_spark.ingest.column_mapping import (
        append_mapped,
        create_mapped_table,
        evolve_mapped,
        upsert_mapped,
    )

    register_snapshot_source(spark)
    t = str(tmp_path / "m")
    create_mapped_table(
        spark,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, tag string, v long"
        ),
        t,
        max_rows=10,
    )
    # upsert under the ORIGINAL names (eq tombstone written now) ...
    upsert_mapped(
        spark,
        spark.createDataFrame(
            [(2, "B", 99), (3, "c", 30)], "id long, tag string, v long"
        ),
        t,
        ["id"],
        max_rows=10,
    )
    # ... then rename the key column AND the value column (metadata-only)
    evolve_mapped(t, renames={"id": "ident", "v": "val"})
    append_mapped(
        spark,
        spark.createDataFrame(
            [(4, "d", 40)], "ident long, tag string, val long"
        ),
        t,
        max_rows=10,
    )

    df = spark.read.format("snapshot_table").option("path", t).load()
    assert df.columns == ["ident", "tag", "val"]
    assert _canon(df) == [
        (1, "a", 10),
        (2, "B", 99),
        (3, "c", 30),
        (4, "d", 40),
    ]

    # drop + re-add the same NAME: old data must NOT resurrect
    evolve_mapped(t, drops=["val"])
    evolve_mapped(t, adds=[("val", "bigint")])
    df2 = spark.read.format("snapshot_table").option("path", t).load()
    assert _canon(df2.select("ident", "val")) == [
        (1, None),
        (2, None),
        (3, None),
        (4, None),
    ]

    # versionAsOf time travel reads v1 under v1's OWN schema
    df_v1 = (
        spark.read.format("snapshot_table")
        .option("path", t)
        .option("versionAsOf", 1)
        .load()
    )
    assert df_v1.columns == ["id", "tag", "v"]
    assert _canon(df_v1) == [(1, "a", 10), (2, "b", 20)]


def test_format_mapped_pushdown_prunes_across_renames(spark, tmp_path):
    """File skipping on mapped tables (r12): each conjunct's column
    resolves per file through its commit-epoch stamp, so a RENAMED
    column's stats (living under the old physical name) still prune —
    the old stable-name restriction dropped that signal entirely — and
    results stay exact either way."""
    from iceberg_file_writer_spark.ingest.column_mapping import (
        append_mapped,
        create_mapped_table,
        evolve_mapped,
    )
    from iceberg_file_writer_spark.sources.snapshot_stream import (
        _SnapshotBatchReader,
    )
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    register_snapshot_source(spark)
    t = str(tmp_path / "m")
    create_mapped_table(
        spark,
        spark.createDataFrame([(i, i * 2) for i in range(100)], "k long, w long"),
        t,
        max_rows=10,
    )
    evolve_mapped(t, renames={"w": "weight"})
    append_mapped(
        spark,
        spark.createDataFrame(
            [(i, i * 2) for i in range(100, 120)], "k long, weight long"
        ),
        t,
        max_rows=10,
    )
    df = (
        spark.read.format("snapshot_table")
        .option("path", t)
        .load()
        .where("k >= 110 AND weight >= 0")
    )
    assert df.count() == 10
    assert (
        spark.read.format("snapshot_table")
        .option("path", t)
        .load()
        .where("weight = 4")
        .count()
        == 1
    )
    # the renamed column's conjunct prunes files via per-epoch stamps
    r = _SnapshotBatchReader(df.schema, {"path": t})
    total = r.files_total
    r.pushFilters([EqualTo(("weight",), 4)])
    assert 0 < len(r.files) < total, "renamed-column stats gave no pruning"
    # both epochs prune together on a shared range
    r2 = _SnapshotBatchReader(df.schema, {"path": t})
    r2.pushFilters([GreaterThanOrEqual(("k",), 110)])
    assert 0 < len(r2.files) < total


def test_format_stream_spans_mapped_evolution(spark, tmp_path):
    """An incremental stream over a mapped table keeps streaming across
    a MID-STREAM rename: later appends stamp the new physical names but
    project onto the start-time logical schema by field id."""
    from iceberg_file_writer_spark.ingest.column_mapping import (
        append_mapped,
        create_mapped_table,
        evolve_mapped,
    )

    t = str(tmp_path / "m")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    create_mapped_table(
        spark,
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"),
        t,
        max_rows=10,
    )
    register_snapshot_source(spark)
    q = (
        spark.readStream.format("snapshot_table")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        assert _canon(spark.read.parquet(sink)) == [(1, 10), (2, 20)]

        # rename WHILE the query runs, then append under the NEW name:
        # the pinned start-time schema (id, v) keeps receiving the rows
        # because the new file resolves by field id
        evolve_mapped(t, renames={"v": "val"})
        append_mapped(
            spark,
            spark.createDataFrame([(3, 30)], "id long, val long"),
            t,
            max_rows=10,
        )
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(sink)
    assert out.columns == ["id", "v"]  # start-time logical names
    assert _canon(out) == [(1, 10), (2, 20), (3, 30)]


def test_format_write_into_mapped_table(spark, tmp_path):
    """df.write.format("snapshot_table") into a mapped table stamps the
    new files with the standing (id, name) mapping and carries the
    columns metadata — the whole mapped read surface keeps working;
    mergeSchema=true adds a column under a FRESH id."""
    from iceberg_file_writer_spark.ingest.column_mapping import (
        create_mapped_table,
        evolve_mapped,
        read_mapped,
        table_columns,
    )

    register_snapshot_source(spark)
    t = str(tmp_path / "m")
    create_mapped_table(
        spark,
        spark.createDataFrame([(1, 10)], "id long, v long"),
        t,
        max_rows=10,
    )
    evolve_mapped(t, renames={"v": "val"})
    (
        spark.createDataFrame([(2, 20)], "id long, val long")
        .write.format("snapshot_table")
        .option("path", t)
        .mode("append")
        .save()
    )
    assert _canon(read_mapped(spark, t)) == [(1, 10), (2, 20)]
    # the mapping survived the format write (rename still resolves)
    assert [c[1] for c in table_columns(t)] == ["id", "val"]

    # unknown column without mergeSchema: refused; with it: fresh id
    import pytest as _pytest

    with _pytest.raises(Exception, match="mergeSchema"):
        (
            spark.createDataFrame([(3, 30, "x")], "id long, val long, tag string")
            .write.format("snapshot_table")
            .option("path", t)
            .mode("append")
            .save()
        )
    (
        spark.createDataFrame([(3, 30, "x")], "id long, val long, tag string")
        .write.format("snapshot_table")
        .option("path", t)
        .option("mergeSchema", "true")
        .mode("append")
        .save()
    )
    cols = table_columns(t)
    assert [c[1] for c in cols] == ["id", "val", "tag"]
    assert cols[-1][0] == 3  # fresh id beyond the high-water mark
    assert _canon(read_mapped(spark, t)) == [
        (1, 10, None),
        (2, 20, None),
        (3, 30, "x"),
    ]


# --- streaming change data feed (readChangeFeed=true) -------------------------


def _drain_cdf(spark, table, sink, ckpt):
    register_snapshot_source(spark)
    q = (
        spark.readStream.format("snapshot_table")
        .option("path", table)
        .option("readChangeFeed", "true")
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


def _net(df, cols):
    """Fold sign-tagged CDF rows to the netted multiset the batch feed
    emits: (change, *cols) tuples after cancelling +/- pairs."""
    from pyspark.sql import functions as F

    sign = F.when(F.col("change") == "+", F.lit(1)).otherwise(F.lit(-1))
    rows = (
        df.groupBy(*cols)
        .agg(F.sum(sign).alias("_net"))
        .where(F.col("_net") != 0)
        .collect()
    )
    out = []
    for r in rows:
        ch = "+" if r["_net"] > 0 else "-"
        out.extend([(ch, *[r[c] for c in cols])] * abs(r["_net"]))
    return sorted(out, key=repr)


def test_cdf_stream_matches_batch_feed_across_dml(spark, tmp_path):
    """The CDF stream net-folds to exactly changes_between over the
    same span, across append, MoR upsert (equality tombstones), MoR
    positional delete, and a CoW delete — the four change classes the
    append-only reader cannot express."""
    from iceberg_file_writer_spark.ingest.deletion_vectors import (
        commit_delete_where_mor,
    )
    from iceberg_file_writer_spark.ingest.equality_deletes import commit_upsert
    from iceberg_file_writer_spark.ingest.snapshots import (
        changes_between,
        commit_append,
        commit_delete_where,
        current_version,
    )

    t = str(tmp_path / "t")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame(
        [(i, i % 5, i * 10) for i in range(40)], "id long, g long, v long"
    )
    commit_append(spark, df, t, max_rows=10)
    commit_upsert(
        spark,
        t,
        spark.createDataFrame([(3, 99, 333), (100, 1, 111)], "id long, g long, v long"),
        ["id"],
        max_rows=10,
    )
    commit_delete_where_mor(spark, t, "id IN (7, 11)")
    commit_delete_where(spark, t, "g = 4 AND id < 20")
    end = current_version(t)

    _drain_cdf(spark, t, sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.columns == ["change", "_commit_version", "id", "g", "v"]
    cols = ["id", "g", "v"]

    from iceberg_file_writer_spark.ingest.snapshots import read_table_version

    # per-version: the netted stream slice equals the batch feed (v1 is
    # the genesis commit — its feed is '+' of the v1-visible rows)
    all_want = []
    for v in range(1, end + 1):
        got = _net(out.where(F.col("_commit_version") == v), cols)
        if v == 1:
            want = sorted(
                (
                    ("+", *r)
                    for r in read_table_version(spark, t, 1)
                    .select(*cols)
                    .collect()
                ),
                key=repr,
            )
        else:
            want = sorted(
                (
                    tuple(r)
                    for r in changes_between(spark, t, v - 1, v).collect()
                ),
                key=repr,
            )
        all_want.extend(want)
        assert got == want, f"version {v}: {got} != {want}"

    # whole-span: net of everything equals the netted union of steps
    from collections import Counter

    net_want = Counter()
    for ch, *vals in all_want:
        net_want[tuple(vals)] += 1 if ch == "+" else -1
    expected = sorted(
        (
            ("+" if n > 0 else "-", *vals)
            for vals, n in net_want.items()
            if n != 0
            for _ in range(abs(n))
        ),
        key=repr,
    )
    assert _net(out, cols) == expected


def test_cdf_stream_spans_mapped_rename_mid_query(spark, tmp_path):
    """A mapped table's rename WHILE the CDF query runs is CDC-silent
    (metadata-only: no rows emit), and later upserts/deletes keep
    emitting under the stream-start names (field-id resolution)."""
    from iceberg_file_writer_spark.ingest.column_mapping import (
        create_mapped_table,
        delete_where_mapped,
        evolve_mapped,
        upsert_mapped,
    )

    t = str(tmp_path / "m")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    create_mapped_table(
        spark,
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id long, v long"),
        t,
        max_rows=10,
    )
    register_snapshot_source(spark)
    q = (
        spark.readStream.format("snapshot_table")
        .option("path", t)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        assert _net(spark.read.parquet(sink), ["id", "v"]) == sorted(
            [("+", 1, 10), ("+", 2, 20), ("+", 3, 30)], key=repr
        )
        evolve_mapped(t, renames={"v": "val"})  # metadata-only: no rows
        upsert_mapped(
            spark,
            spark.createDataFrame([(2, 99)], "id long, val long"),
            t,
            ["id"],
            max_rows=10,
        )
        delete_where_mapped(spark, t, "id = 1")
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(sink)
    # start-time names pin; the rename emitted NOTHING
    assert out.columns == ["change", "_commit_version", "id", "v"]
    assert out.where(F.col("_commit_version") == 2).count() == 0
    tail = _net(out.where(F.col("_commit_version") > 1), ["id", "v"])
    assert tail == sorted(
        [("+", 2, 99), ("-", 2, 20), ("-", 1, 10)], key=repr
    )


_cdf_ops = st.lists(
    st.tuples(
        st.sampled_from(
            ["append", "upsert", "delete_cow", "delete_mor",
             "respec", "compact"]
        ),
        st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 49)),
            min_size=1,
            max_size=4,
        ),
    ),
    min_size=2,
    max_size=5,
).filter(lambda ops: ops[0][0] == "append")


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_cdf_ops)
def test_cdf_property_any_dml_interleaving_nets_to_batch_feed(
    spark, tmp_path_factory, ops
):
    """Property: for ANY interleaving of appends, MoR upserts, CoW
    deletes and MoR positional deletes, the CDF stream's sign-fold per
    version equals changes_between for that step — duplicate keys,
    shadowing, empty deletes and all."""
    from iceberg_file_writer_spark.ingest.deletion_vectors import (
        commit_delete_where_mor,
    )
    from iceberg_file_writer_spark.ingest.equality_deletes import commit_upsert
    from iceberg_file_writer_spark.ingest.snapshots import (
        changes_between,
        current_version,
        read_table_version,
    )

    t = str(tmp_path_factory.mktemp("cdf-prop") / "tbl")
    for op, rows in ops:
        if op in ("append", "upsert"):
            if op == "upsert":
                rows = list({k: (k, v) for k, v in rows}.values())
            df = spark.createDataFrame(rows, "k long, v long")
            if op == "append":
                commit_append(spark, df, t)
            else:
                if current_version(t) == 0:
                    commit_append(spark, df, t)
                else:
                    commit_upsert(spark, t, df, ["k"])
        elif op == "delete_cow":
            commit_delete_where(spark, t, f"v % 7 = {rows[0][1] % 7}")
        elif op == "respec":
            # metadata-only step: the CDF must emit an EMPTY slice and
            # the planner's segment advance must handle a carried-
            # verbatim file list
            from iceberg_file_writer_spark.ingest.partitioning import (
                commit_respec,
            )

            commit_respec(t, [["bucket", 4, "k"]])
        elif op == "compact":
            # whole-table rewrite: re-chunks the manifest (the planner's
            # full-parse fallback) and nets to zero in the feed
            from iceberg_file_writer_spark.ingest.snapshots import (
                commit_compact,
            )

            commit_compact(spark, t)
        else:
            commit_delete_where_mor(spark, t, f"k = {rows[0][0]}")
    end = current_version(t)
    sink = str(tmp_path_factory.mktemp("cdf-prop") / "out")
    ckpt = str(tmp_path_factory.mktemp("cdf-prop") / "ckpt")
    _drain_cdf(spark, t, sink, ckpt)
    out = spark.read.parquet(sink)
    for v in range(1, end + 1):
        got = _net(out.where(F.col("_commit_version") == v), ["k", "v"])
        if v == 1:
            want = sorted(
                (
                    ("+", *r)
                    for r in read_table_version(spark, t, 1)
                    .select("k", "v")
                    .collect()
                ),
                key=repr,
            )
        else:
            want = sorted(
                (
                    tuple(r)
                    for r in changes_between(spark, t, v - 1, v).collect()
                ),
                key=repr,
            )
        assert got == want, f"version {v}: {got} != {want}"


def test_cdf_eq_prune_unsound_under_partial_footer_stats(spark, tmp_path):
    """Regression (r12 ADVICE, medium): the CDF stream's eq_flip prune
    builds its delta-key bounding box from the new equality-delete
    files' footer stats — when ONE delete part-file carries min/max and
    ANOTHER lacks them (truncated strings, decimals, stats-less row
    groups), the key column must become UN-prunable, or carried files
    holding only the stats-less file's keys silently lose their '-'
    rows. Simulated by rewriting one eq-delete part-file with
    write_statistics=False after the commit."""
    import pyarrow.parquet as pq

    from iceberg_file_writer_spark.ingest.equality_deletes import (
        commit_delete_keys,
    )
    from iceberg_file_writer_spark.ingest.snapshots import (
        commit_append,
        read_manifest,
        current_version,
    )

    t = str(tmp_path / "t")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    # two data files with disjoint key ranges (separate appends)
    commit_append(
        spark,
        spark.createDataFrame([(i, i * 10) for i in range(1, 6)], "k long, v long"),
        t,
    )
    commit_append(
        spark,
        spark.createDataFrame(
            [(i, i * 10) for i in range(100, 106)], "k long, v long"
        ),
        t,
    )
    # one eq-delete commit whose delete dir holds TWO part files:
    # one for k=3 (stats kept), one for k=102 (stats stripped below)
    keys = spark.createDataFrame([(3,), (102,)], "k long").repartition(2, "k")
    commit_delete_keys(spark, t, keys)
    m = read_manifest(t, current_version(t))
    d = os.path.join(t, m["eqs"][0]["path"])
    parts = [
        os.path.join(d, n)
        for n in sorted(os.listdir(d))
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    ]
    stripped = 0
    for p in parts:
        tbl = pq.read_table(p)
        if 102 in tbl.column("k").to_pylist():
            pq.write_table(tbl, p, write_statistics=False)
            stripped += 1
    assert stripped >= 1, "harness: no part file held key 102"
    assert len(parts) >= 2, "harness: need a stats-carrying sibling file"

    _drain_cdf(spark, t, sink, ckpt)
    out = spark.read.parquet(sink)
    minus = sorted(
        tuple(r)
        for r in out.where(F.col("change") == "-").select("k", "v").collect()
    )
    # both deleted keys must surface '-' — k=102 lives in a carried file
    # whose range [100,105] is outside the stats-visible box [3,3]
    assert minus == [(3, 30), (102, 1020)], minus


def test_cdf_planning_parses_only_the_segment_delta(spark, tmp_path,
                                                    orders, monkeypatch):
    """r12 (VERDICT r11 missing #3): the CDF planner advances its
    entries map through the content-addressed segment diff — planning
    a version step opens only NEW segments (+ full parse at stream
    start), never the shared sealed prefix, and the feed stays exactly
    per-version correct across MoR deletes and a re-chunking rewrite
    (fallback path)."""
    import iceberg_file_writer_spark.ingest.snapshots as SN
    from iceberg_file_writer_spark.ingest.deletion_vectors import (
        commit_delete_where_mor,
    )
    from iceberg_file_writer_spark.ingest.snapshots import (
        changes_between,
        commit_append,
        commit_compact,
        current_version,
    )
    from iceberg_file_writer_spark.sources.snapshot_stream import (
        _SnapshotCDFStreamReader,
        _manifest_raw,
    )

    monkeypatch.setattr(SN, "MANIFEST_SEGMENT_SIZE", 4)
    t = str(tmp_path / "tbl")
    commit_append(spark, orders.where("o_orderkey % 3 = 0"), t, max_rows=60)
    commit_append(spark, orders.where("o_orderkey % 3 = 1"), t, max_rows=60)
    commit_delete_where_mor(spark, t, "o_custkey % 5 = 0")
    commit_append(spark, orders.where("o_orderkey % 3 = 2"), t, max_rows=60)
    end = current_version(t)
    r_end = _manifest_raw(t, end)
    total_segs = len(r_end.get("segments") or [])
    assert total_segs > 4, "fixture not segmented"

    class _Opts(dict):
        def get(self, k, d=None):
            return super().get(k, d)

    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(
        "change string, _commit_version long, "
        + ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in orders.schema.fields)
    )
    reader = _SnapshotCDFStreamReader(schema, _Opts(path=t))
    _SnapshotCDFStreamReader.last_seg_parsed = 0
    # steady-state trigger: advance v2 -> v4 (MoR delete + append)
    parts = reader.partitions({"version": 2}, {"version": end})
    r2 = _manifest_raw(t, 2)
    shared = len(
        set(r2.get("segments") or []) & set(r_end.get("segments") or [])
    )
    assert shared > 0
    # one full parse at span start (v2's segments) + only the delta
    # beyond it — never start + per-version full parses
    budget = len(r2.get("segments") or []) + (total_segs - shared)
    assert _SnapshotCDFStreamReader.last_seg_parsed <= budget
    # next trigger reuses the cached end map: zero segment reads for
    # an empty advance
    _SnapshotCDFStreamReader.last_seg_parsed = 0
    reader.partitions({"version": end}, {"version": end})
    assert _SnapshotCDFStreamReader.last_seg_parsed == 0
    # rewrite fallback stays correct: compaction re-chunks; the netted
    # stream step still equals the batch feed
    commit_compact(spark, t)
    v2 = current_version(t)
    parts = reader.partitions({"version": end}, {"version": v2})
    cols = [f.name for f in orders.schema.fields]
    import pandas as pd

    rows = []
    for p in parts:
        for batch in reader.read(p):
            rows.append(batch.to_pandas())
    got = (
        spark.createDataFrame(pd.concat(rows))
        if rows
        else spark.createDataFrame([], schema)
    )
    assert _net(got, cols) == sorted(
        (tuple(r) for r in changes_between(spark, t, end, v2).collect()),
        key=repr,
    )


def test_cdf_advance_returns_the_step_delta(tmp_path):
    """r13 (VERDICT r12 next-step 7): _advance hands back (map, added,
    removed) so the planner's per-step python work is O(changed files)
    — the measured residual of the 0.09 s/step floor at a 100k-file
    table was partitions() rebuilding the delta with O(table) set
    algebra. Pins the delta's correctness including a removed
    loose-tail entry and the rewrite fallback (None)."""
    import iceberg_file_writer_spark.sources.snapshot_stream as SS
    from iceberg_file_writer_spark.ingest import snapshots as S

    t = str(tmp_path / "t")
    e = lambda p: {"path": p, "rows": 1, "stats": {}}
    S._commit(t, 0, "append", [e("data/a"), e("data/b")])
    S._commit(t, 1, "append", [e("data/a"), e("data/b"), e("data/c")])
    S._commit(t, 2, "delete", [e("data/a"), e("data/c")])  # b dropped

    r = SS._SnapshotCDFStreamReader.__new__(SS._SnapshotCDFStreamReader)
    r.path = t
    m1, m2, m3 = (SS._manifest_raw(t, v) for v in (1, 2, 3))
    e1 = {x["path"]: x for x in SS._raw_entries(t, m1)}
    out, added, removed = r._advance(e1, m1, m2)
    assert sorted(out) == ["data/a", "data/b", "data/c"]
    assert (sorted(added), removed) == (["data/c"], [])
    out2, added2, removed2 = r._advance(out, m2, m3)
    assert sorted(out2) == ["data/a", "data/c"]
    assert (added2, removed2) == ([], ["data/b"])
    # a re-chunked (non-superset-segment) step falls back to None
    assert r._advance(
        out2, {"segments": ["gone.seg"], "tail": []}, {"tail": []}
    ) is None
