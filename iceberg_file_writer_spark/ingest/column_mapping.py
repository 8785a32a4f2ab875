"""Field-id column mapping: rename/drop/add columns without rewriting
data [extension — not in reference].

The snapshot layer (``ingest/snapshots.py``) reads files by parquet
column NAME, so it supports only additive evolution (mergeSchema). This
module adds the Iceberg-style field-id indirection on top: every logical
column owns a stable integer id, each data-file entry records the
(id, name) list it was WRITTEN under, and reads resolve by id — so:

- **rename** is a metadata-only commit: old files keep their bytes and
  their old physical names; reads alias them to the current name by id.
- **drop** is metadata-only: the column vanishes from the logical
  schema; files keep the bytes (expire governs physical reclamation
  through normal file turnover).
- **add** assigns a FRESH id; historical files null-fill it.
- **drop then re-add the same name** yields a NEW id, so old data can
  NEVER resurrect under the recycled name — the classic correctness
  property name-based readers get wrong.
- **time travel** reads version v under v's OWN logical schema
  (schema-as-of by construction, not by fallback heuristics).

Physical layout: per-file entries carry ``"cols": [[id, name], ...]``
(self-contained — resolving never needs an expired ancestor manifest);
each manifest carries ``"columns": [[id, name, type], ...]``, the
logical schema as of that version. Readers group files by identical
cols signature and read each group as ONE multi-path scan (two
evolution epochs => two scans, not one per file), then unionByName —
Catalyst pushes filters/pruning through the union into each scan, so
pushdown survives evolution.

Conjunct reads go through the one scan planner
(``file_skipping.scan_table``; ``scan_mapped_partitioned`` is its old
name): a mapped manifest selects ``prune_entries_mapped`` as its pruning
function and ``_scan_mapped`` as its reader.

At 100 TB: evolution commits touch one manifest, zero data bytes; the
signature-grouped read keeps scan counts at O(#epochs), not O(#files).

Reference scope note: the reference (/root/reference/main.go:19-41)
hard-codes one Avro schema for the table's lifetime; this is the
schema-lifecycle layer above that write path. [extension]
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_file_writer_spark.ingest.file_skipping import (
    _file_can_match,
    scan_table as scan_mapped_partitioned,  # noqa: F401
)
from iceberg_file_writer_spark.ingest.partitioning import (
    _bucket_col_name,
    _mapped_bucket_col_name,
    bucket_of,
    bucket_probe_safe,
    spec_source_ids,
)
from iceberg_file_writer_spark.ingest.snapshots import (
    _write_data_files,
    current_version,
    read_manifest,
)


def _commit_with_columns(
    table_path: str, op: str, files: list, columns: list,
    extra: "dict | None" = None,
    parent: "int | None" = None,
) -> int:
    """``parent`` is the version the CALLER read its state from: passing
    it through makes the optimistic O_EXCL commit detect a concurrent
    writer (CommitConflict) instead of silently rebasing onto — and
    thereby erasing — a commit the caller never saw (lost update)."""
    from iceberg_file_writer_spark.ingest.partitioning import (
        reject_reserved_names,
    )
    from iceberg_file_writer_spark.ingest.snapshots import _commit

    reject_reserved_names([c[1] for c in columns])
    if parent is None:
        parent = current_version(table_path)
    # last_column_id is the durable high-water mark (the Iceberg field):
    # a dropped id must stay retired even after its last file/manifest
    # reference expires, or a later add could recycle it
    prev_last = 0
    prev_defaults: dict = {}
    if parent:
        pm = read_manifest(table_path, parent)
        prev_last = pm.get("last_column_id", 0)
        prev_defaults = pm.get("column_defaults") or {}
    last = max([prev_last] + [c[0] for c in columns])
    base_extra = {"columns": columns, "last_column_id": last}
    # initial-default values (Iceberg v3 shape) ride with the schema:
    # keyed by FIELD ID (rename-proof), pruned to live ids, carried by
    # every mapped commit unless the caller overrides
    if prev_defaults and "column_defaults" not in (extra or {}):
        live = {str(c[0]) for c in columns}
        kept = {i: v for i, v in prev_defaults.items() if i in live}
        # always override (even with {}): an empty pruned dict must
        # SUPPRESS _commit's verbatim parent carry, not fall through to it
        base_extra["column_defaults"] = kept
    return _commit(
        table_path,
        parent,
        op,
        files,
        extra={**base_extra, **(extra or {})},
    )


def create_mapped_table(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    max_rows: int = 4096,
    spec: "list | None" = None,
) -> int:
    """Create a column-mapped table: field ids 1..n in schema order.

    ``spec`` (optional) is a hidden-partition spec in the NAME-keyed
    user form (``[("day", "ts"), ("bucket", 16, "id"), ...]`` — the
    same shape ``commit_append_partitioned`` takes); it is pinned to
    FIELD IDS at create time and stored id-keyed in the manifest, so
    Iceberg's two marquee features compose: a later RENAME of a spec'd
    column re-labels reads without detaching the transform layout."""
    columns = [
        [i + 1, f.name, f.dataType.simpleString()]
        for i, f in enumerate(df.schema.fields)
    ]
    extra = None
    if spec:
        from iceberg_file_writer_spark.ingest.partitioning import (
            apply_spec_mapped,
            spec_names_to_ids,
        )

        spec_ids = spec_names_to_ids(spec, columns)
        df = apply_spec_mapped(df, spec_ids, columns)
        extra = {"spec": spec_ids}
    files = _write_data_files(df, table_path, max_rows)
    for e in files:
        e["cols"] = [[c[0], c[1]] for c in columns]
    return _commit_with_columns(
        table_path, "create", files, columns, extra=extra
    )


def _spec_clustered(df: DataFrame, m: dict) -> DataFrame:
    """Apply the table's standing id-keyed spec to a batch about to be
    written (the mapped twin of ``snapshots._apply_standing_spec``):
    the spec belongs to the TABLE, so every write verb clusters by it
    and layout never silently decays."""
    spec = m.get("spec")
    if not spec:
        return df
    from iceberg_file_writer_spark.ingest.partitioning import (
        apply_spec_mapped,
    )

    return apply_spec_mapped(df, spec, m["columns"])


def convert_to_mapped(spark: SparkSession, table_path: str) -> int:
    """Upgrade a PLAIN snapshot table to field-id column mapping in one
    metadata-only commit (zero data bytes move).

    Ids 1..n are assigned to the current merged logical schema in order.
    Each existing file entry is stamped with the (id, name) pairs for the
    columns PHYSICALLY present in that file (its parquet footer), so a
    table that grew columns through additive mergeSchema evolution keeps
    its history honest: pre-addition files simply omit the late ids and
    read_mapped null-fills them — the same rows a mergeSchema read
    produced before the conversion. One-time O(#files) footer reads,
    driver-side (a conversion utility, not a per-query path).

    After conversion every ALTER COLUMN verb is metadata-only; row-level
    DML verbs refuse until they carry the mapping (sql_dml module doc).
    """
    import pyarrow.parquet as pq

    from iceberg_file_writer_spark.ingest.snapshots import read_table_version

    v = current_version(table_path)
    m = read_manifest(table_path, v)
    if "columns" in m:
        raise ValueError(f"already column-mapped: {table_path}")
    # the mapped commit lists files + columns only — it cannot carry MoR
    # tombstones (read_mapped applies none), and silently dropping them
    # would RESURRECT deleted rows. Same for a standing partition spec:
    # the mapped read path knows nothing of hidden-partition routing.
    if m.get("dvs") or m.get("eqs"):
        raise ValueError(
            "table carries merge-on-read deletes; OPTIMIZE (compact) "
            "first to materialize them, then convert"
        )
    from iceberg_file_writer_spark.ingest.partitioning import _is_hidden

    schema = read_table_version(spark, table_path).schema
    logical = [f for f in schema.fields if not _is_hidden(f.name)]
    columns = [
        [i + 1, f.name, f.dataType.simpleString()]
        for i, f in enumerate(logical)
    ]
    extra = None
    if m.get("spec"):
        # carry the standing spec, re-keyed by the fresh field ids: the
        # layout survives conversion AND every later rename. Pre-convert
        # files' hidden bucket stats stay name-keyed (_b<n>_<col>); the
        # mapped pruned scan checks the per-file stamp's name alongside
        # the id form, so their pruning signal is not lost.
        from iceberg_file_writer_spark.ingest.partitioning import (
            spec_names_to_ids,
        )

        extra = {"spec": spec_names_to_ids(m["spec"], columns)}
    files = [dict(e) for e in m["files"]]
    for e in files:
        present = set(
            pq.read_schema(os.path.join(table_path, e["path"])).names
        )
        e["cols"] = [
            [cid, name] for cid, name, _typ in columns if name in present
        ]
    return _commit_with_columns(
        table_path, "convert", files, columns, parent=v, extra=extra
    )


def table_columns(table_path: str, version: int | None = None) -> list:
    """The logical schema [[id, name, type], ...] as of ``version``."""
    v = current_version(table_path) if version is None else version
    m = read_manifest(table_path, v)
    if "columns" not in m:
        raise ValueError(f"{table_path} is not a column-mapped table")
    return m["columns"]


def _select_as_standing(df: DataFrame, columns: list) -> DataFrame:
    """Validate the exact column-name set and cast each column to its
    standing logical type (SQL INSERT semantics: a decimal literal
    source must not flip a double column — and a type-drifted file
    would break the epoch group's single multi-path scan)."""
    want = [c[1] for c in columns]
    if sorted(df.columns) != sorted(want):
        raise ValueError(f"schema mismatch: have {df.columns}, want {want}")
    return df.select(
        *[F.col(name).cast(typ).alias(name) for _id, name, typ in columns]
    )


def append_mapped(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    max_rows: int = 4096,
    extra_manifest: "dict | None" = None,
    op: str = "append",
) -> int:
    """Append rows matching the CURRENT logical schema (by name); the new
    files record the current (id, name) mapping. ``extra_manifest``/
    ``op`` let append-shaped commit flavors (COPY INTO) carry their own
    manifest metadata through the same path."""
    v = current_version(table_path)
    columns = table_columns(table_path, v)
    m = read_manifest(table_path, v)
    files = _write_data_files(
        _spec_clustered(_select_as_standing(df, columns), m),
        table_path,
        max_rows,
    )
    for e in files:
        e["cols"] = [[c[0], c[1]] for c in columns]
    extra = {
        k: m[k] for k in ("eqs", "dvs") if m.get(k)
    }
    extra.update(extra_manifest or {})
    return _commit_with_columns(
        table_path, op, m["files"] + files, columns,
        extra=extra or None, parent=v,
    )


def evolve_mapped(
    table_path: str,
    renames: "dict[str, str] | None" = None,
    drops: "list[str] | None" = None,
    adds: "list[tuple[str, str]] | None" = None,
) -> int:
    """Metadata-only schema evolution: zero data bytes move.

    ``renames`` {old: new}, ``drops`` [name], ``adds`` [(name, type)]
    or [(name, type, default)] — with a DEFAULT, rows written BEFORE
    the column existed read the default instead of NULL (Iceberg v3's
    initial-default, metadata-only; stored by field id, rename-proof).
    Adds always take a FRESH id (max id + 1, never recycled), so a
    dropped-then-re-added name cannot resurrect old data."""
    columns = [list(c) for c in table_columns(table_path)]
    renames, drops, adds = renames or {}, drops or [], adds or []
    names = {c[1] for c in columns}
    for old in list(renames) + drops:
        if old not in names:
            raise ValueError(f"no such column: {old}")
    if drops:
        m0 = read_manifest(table_path, current_version(table_path))
        live_key_ids = {
            i for e in (m0.get("eqs") or []) for i in e.get("ids", [])
        }
        blocked = [
            c[1] for c in columns if c[1] in drops and c[0] in live_key_ids
        ]
        if blocked:
            raise ValueError(
                f"column(s) {blocked} key live equality deletes; OPTIMIZE "
                "(compact) first to materialize them, then drop"
            )
        # Dropping a column the standing partition spec sources from
        # would brick every write verb at resolve_spec_ids time
        # (Iceberg likewise refuses to drop partition source columns).
        spec_ids = spec_source_ids(m0.get("spec") or [])
        spec_blocked = [
            c[1] for c in columns if c[1] in drops and c[0] in spec_ids
        ]
        if spec_blocked:
            raise ValueError(
                f"column(s) {spec_blocked} are partition spec sources; "
                "ALTER TABLE ... SET PARTITION SPEC without them first, "
                "then drop"
            )
    columns = [c for c in columns if c[1] not in drops]
    for c in columns:
        c[1] = renames.get(c[1], c[1])
    # fresh ids continue beyond every id EVER used: the manifest's
    # durable last_column_id high-water mark (carried forward by every
    # commit), so retired ids stay retired even after their files expire
    v = current_version(table_path)
    m = read_manifest(table_path, v)
    max_id = m.get("last_column_id", 0)
    for c in m.get("columns", []):
        max_id = max(max_id, c[0])
    new_defaults = dict(m.get("column_defaults") or {})
    for cid, _nm, _t in [c for c in m.get("columns", []) if c[1] in drops]:
        new_defaults.pop(str(cid), None)
    for add in adds:
        name, typ = add[0], add[1]
        if name in {c[1] for c in columns}:
            raise ValueError(f"column exists: {name}")
        max_id += 1
        columns.append([max_id, name, typ])
        if len(add) > 2 and add[2] is not None:
            new_defaults[str(max_id)] = add[2]
    if len({c[1] for c in columns}) != len(columns):
        raise ValueError("rename collision")
    extra = {
        k: m[k] for k in ("eqs", "dvs") if m.get(k)
    }
    if new_defaults or m.get("column_defaults"):
        extra["column_defaults"] = new_defaults
    return _commit_with_columns(
        table_path, "evolve", m["files"], columns,
        extra=extra or None, parent=v,
    )


# Iceberg's type-promotion lattice (the schema-evolution subset the
# engine's types cover): a column may only widen along these edges —
# the same rules ingest-side Avro schema resolution applies
# (avro_py.decode_resolved, reference main.go:19-41's fixed schema
# generalized). Key: current type -> the types it may widen TO.
_TYPE_PROMOTIONS: "dict[str, set]" = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def alter_column_type_mapped(
    table_path: str, col: str, new_type: str
) -> int:
    """``ALTER TABLE ... ALTER COLUMN col TYPE <wider>``: a metadata-only
    epoch that widens the column's LOGICAL type along Iceberg's
    promotion lattice (int->bigint, float->double, ...). Zero data
    bytes move: files written under the narrower physical type read
    through a cast in the epoch projection (``_group_scan``) and the
    Arrow normalization (``_normalized_batches``) — every read surface
    (batch, pruned scan, streaming, CDF) sees the widened type
    uniformly. Narrowing or cross-family changes are REFUSED: old files
    cannot be re-read narrower without data loss."""
    new_type = new_type.strip().lower()
    alias = {"long": "bigint", "integer": "int", "short": "smallint",
             "byte": "tinyint"}
    new_type = alias.get(new_type, new_type)
    columns = [list(c) for c in table_columns(table_path)]
    hit = [c for c in columns if c[1] == col]
    if not hit:
        raise ValueError(f"no such column: {col}")
    cur = hit[0][2].strip().lower()
    cur = alias.get(cur, cur)
    if new_type == cur:
        return current_version(table_path)  # no-op widen: nothing to do
    if new_type not in _TYPE_PROMOTIONS.get(cur, set()):
        raise ValueError(
            f"cannot alter column {col!r} from {cur} to {new_type}: only "
            f"widening promotions are allowed "
            f"({cur} -> {sorted(_TYPE_PROMOTIONS.get(cur, set())) or 'none'})"
        )
    hit[0][2] = new_type
    v = current_version(table_path)
    m = read_manifest(table_path, v)
    # spec/dvs/eqs/defaults all ride _commit's parent-carry untouched
    return _commit_with_columns(
        table_path, "evolve", m["files"], columns, parent=v
    )


def _sig_groups(files: list) -> "dict[str, list]":
    """File entries grouped by identical writer (id, name) mapping — one
    scan per evolution epoch."""
    groups: dict[str, list] = {}
    for e in files:
        sig = json.dumps(e.get("cols", []), sort_keys=True)
        groups.setdefault(sig, []).append(e)
    return groups


def _group_scan(
    spark: SparkSession,
    table_path: str,
    entries: list,
    sig: str,
    columns: list,
    extra_cols: "list | None" = None,
    defaults: "dict | None" = None,
) -> DataFrame:
    """One epoch group's files projected to the logical schema (resolve
    by field id; absent ids fill their initial DEFAULT when one is
    declared, else NULL). ``extra_cols`` appends physical helper
    columns (e.g. input_file_name) after the logical projection."""
    file_cols = {cid: name for cid, name in json.loads(sig)}
    paths = [os.path.join(table_path, e["path"]) for e in entries]
    # read under an EXPLICIT schema carrying the LOGICAL type for each
    # physical column: after an ALTER COLUMN TYPE widening, one epoch
    # group holds files written int AND files written bigint under the
    # same (id, name) stamp — schema inference from one file would make
    # the other half fail with PARQUET_COLUMN_DATA_TYPE_MISMATCH, while
    # Spark 4's parquet reader performs the widening conversion natively
    # when the declared type is the wider one (the Delta type-widening
    # read path). Unwidened tables declare their exact types: no change.
    id2typ = {cid: typ for cid, _n, typ in columns}
    ddl = ", ".join(
        f"`{phys}` {id2typ[cid]}"
        for cid, phys in file_cols.items()
        if cid in id2typ
    )
    part = (
        spark.read.schema(ddl).parquet(*paths)
        if ddl
        else spark.read.parquet(*paths)
    )
    proj = []
    for cid, name, typ in columns:
        if cid in file_cols:
            proj.append(F.col(file_cols[cid]).alias(name))
        else:
            proj.append(
                F.lit((defaults or {}).get(str(cid))).cast(typ).alias(name)
            )
    return part.select(*(proj + (extra_cols or [])))


def _apply_eqs_mapped(
    spark: SparkSession,
    table_path: str,
    data: DataFrame,
    files: list,
    eqs: list,
    columns: list,
) -> DataFrame:
    """Equality-delete application for mapped tables: delete files key on
    FIELD IDS (rename-proof), so the join resolves each id to whatever
    name the column carries in ``columns`` — same Iceberg v2 seq scoping
    as snapshots._apply_equality_deletes (strict delete.seq > file.seq).
    ``data`` must carry ``_pos_fn`` (input_file_name)."""
    id_to_name = {cid: name for cid, name, _t in columns}
    key_ids = eqs[0]["ids"]
    missing = [i for i in key_ids if i not in id_to_name]
    if missing:
        raise ValueError(
            f"equality-delete key field id(s) {missing} are not in the "
            "as-of schema — the key column was dropped with live deletes"
        )
    from iceberg_file_writer_spark.ingest.snapshots import (
        _with_file_seq,
        fast_parquet_schema,
    )

    # per-file reads stay (eq files key by field id but carry their
    # commit-time NAMES, so epochs can differ in physical schema), but
    # each resolves one pyarrow footer instead of a JVM inference pass,
    # and the file->seq attachment is a literal-map expression instead
    # of a createDataFrame'd broadcast join (r14, guide §5)
    eq = None
    for e in eqs:
        p = os.path.join(table_path, e["path"])
        sch = fast_parquet_schema(p)
        reader = spark.read.schema(sch) if sch is not None else spark.read
        part = reader.parquet(p).select(
            *[
                F.col(name_at_commit).alias(f"_eqk_{cid}")
                for cid, name_at_commit in zip(e["ids"], e["cols"])
            ]
        ).withColumn("_eq_seq", F.lit(int(e["seq"])))
        eq = part if eq is None else eq.unionByName(part)
    eq = eq.groupBy(*[f"_eqk_{i}" for i in key_ids]).agg(
        F.max("_eq_seq").alias("_eq_seq")
    )
    data = _with_file_seq(
        spark, data.withColumnRenamed("_pos_fn", "_pos_bn"), files,
        "_file_seq", fn_col="_pos_bn",
    )
    out = (
        data
        .join(
            F.broadcast(eq),
            [
                F.col(id_to_name[i]) == F.col(f"_eqk_{i}")
                for i in key_ids
            ],
            "left",
        )
        .where(
            F.col("_eq_seq").isNull() | (F.col("_eq_seq") <= F.col("_file_seq"))
        )
        .withColumnRenamed("_pos_bn", "_pos_fn")
        .drop(
            "_file_seq", "_eq_seq",
            *[f"_eqk_{i}" for i in key_ids],
        )
    )
    return out


def _scan_mapped(
    spark: SparkSession,
    table_path: str,
    m: dict,
    with_file: bool = False,
) -> "DataFrame | None":
    """MoR-applied logical scan of a mapped manifest: one scan per
    evolution epoch, equality deletes applied (field-id-keyed).
    ``with_file=True`` keeps ``_pos_fn`` for file-addressed consumers."""
    columns = m["columns"]
    defaults = m.get("column_defaults") or {}
    out = None
    for sig, entries in sorted(_sig_groups(m["files"]).items()):
        part = _group_scan(
            spark,
            table_path,
            entries,
            sig,
            columns,
            extra_cols=[
                F.col("_metadata.file_name").alias("_pos_fn"),
                F.col("_metadata.row_index").alias("_pos_ri"),
            ],
            defaults=defaults,
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        return None
    if m.get("dvs"):
        from iceberg_file_writer_spark.ingest.snapshots import _read_dvs

        dv = _read_dvs(spark, table_path, m["dvs"]).select(
            F.col("file_name").alias("_pos_fn"),
            F.col("row_index").alias("_pos_ri"),
        )
        out = out.join(dv, ["_pos_fn", "_pos_ri"], "left_anti")
    if m.get("eqs"):
        out = _apply_eqs_mapped(
            spark, table_path, out, m["files"], m["eqs"], columns
        )
    return out if with_file else out.drop("_pos_fn", "_pos_ri")


def read_mapped(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read a column-mapped table (as of ``version``): files resolve by
    field id to the as-of logical schema, grouped into one scan per
    distinct writer mapping; equality-delete tombstones (upsert_mapped)
    apply at read time with Iceberg v2 seq scoping."""
    v = current_version(table_path) if version is None else version
    cur = current_version(table_path)
    if v > cur:
        raise ValueError(f"version {v} is not committed (CURRENT={cur})")
    columns = table_columns(table_path, v)
    m = read_manifest(table_path, v)
    out = _scan_mapped(spark, table_path, m)
    if out is None:
        # empty table: synthesize the schema from the logical columns
        ddl = ", ".join(f"`{name}` {typ}" for _id, name, typ in columns)
        return spark.createDataFrame([], ddl)
    return out


# --- row-level DML on mapped tables (CoW, O(affected)) -----------------------


def _affected_paths(
    spark: SparkSession,
    table_path: str,
    m: dict,
    predicate: str,
) -> set:
    """Manifest-relative paths of files holding LIVE rows where the
    predicate is TRUE — one predicate-pushed scan per evolution epoch
    keyed by input_file_name (footer/row-group metadata work at scale,
    not data movement), exactly commit_delete_where's discovery but
    resolved through the field-id projection WITH equality deletes
    applied (a row already tombstoned by an upsert must not drag its
    file into a rewrite)."""
    scan = _scan_mapped(spark, table_path, m, with_file=True)
    if scan is None:
        return set()
    hit_names = {
        r["_pos_fn"]
        for r in scan.where(predicate).select("_pos_fn").distinct().collect()
    }
    return {
        e["path"]
        for e in m["files"]
        if os.path.basename(e["path"]) in hit_names
    }


def _rewrite_mapped(
    spark: SparkSession,
    table_path: str,
    m: dict,
    affected: set,
    transform,
    op: str,
    max_rows: int,
    parent: "int | None" = None,
) -> int:
    """Shared CoW tail: read the affected entries through the field-id
    projection, apply ``transform`` (the survivor filter / SET
    projection), write the result stamped with the CURRENT mapping, and
    carry every untouched entry by reference under its own mapping."""
    columns = m["columns"]
    files = m["files"]
    # survivors come from the MoR-APPLIED state: rewriting raw bytes
    # would re-commit rows an upsert already tombstoned at a NEWER seq
    # than the rewrite (silent resurrection)
    scan = _scan_mapped(spark, table_path, m, with_file=True)
    rewritten = []
    if scan is not None and affected:
        bns = [os.path.basename(p) for p in affected]
        out = scan.where(F.col("_pos_fn").isin(bns)).drop(
            "_pos_fn", "_pos_ri"
        )
        result = _spec_clustered(transform(out), m)
        rewritten = _write_data_files(result, table_path, max_rows)
        for e in rewritten:
            e["cols"] = [[c[0], c[1]] for c in columns]
    carried = [e for e in files if e["path"] not in affected]
    # live tombstones still govern the carried files; rewritten files
    # are already MoR-applied (and take the new commit's seq)
    extra = {}
    if m.get("eqs"):
        extra["eqs"] = m["eqs"]
    if m.get("dvs"):
        extra["dvs"] = m["dvs"]
    return _commit_with_columns(
        table_path, op, carried + rewritten, columns,
        extra=extra or None, parent=parent,
    )


def delete_where_mapped(
    spark: SparkSession, table_path: str, predicate: str, max_rows: int = 4096
) -> int:
    """Copy-on-write DELETE on a column-mapped table: only files holding
    matching rows rewrite (stamped with the current mapping — a rewrite
    is a fresh write); unaffected files carry by reference under their
    own historical mapping, so pre-evolution epochs stay untouched on
    disk. SQL semantics: rows where the predicate is NULL survive."""
    v = current_version(table_path)
    m = read_manifest(table_path, v)
    affected = _affected_paths(spark, table_path, m, predicate)
    if not affected:
        return _commit_with_columns(
            table_path, "delete", m["files"], m["columns"], parent=v
        )
    return _rewrite_mapped(
        spark,
        table_path,
        m,
        affected,
        lambda df: df.where(f"({predicate}) IS NOT TRUE"),
        "delete",
        max_rows,
        parent=v,
    )


def update_where_mapped(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    assignments: "dict[str, str]",
    max_rows: int = 4096,
) -> int:
    """Copy-on-write UPDATE on a column-mapped table. SQL semantics:
    every SET expression evaluates against the OLD row, results cast
    back to the column's standing logical type, NULL-predicate rows are
    not updated."""
    v = current_version(table_path)
    m = read_manifest(table_path, v)
    types = {name: typ for _id, name, typ in m["columns"]}
    for c in assignments:
        if c not in types:
            raise ValueError(f"no such column: {c}")
    affected = _affected_paths(spark, table_path, m, predicate)
    if not affected:
        return _commit_with_columns(
            table_path, "update", m["files"], m["columns"], parent=v
        )

    def _apply(df: DataFrame) -> DataFrame:
        cond = F.expr(f"({predicate}) IS TRUE")
        proj = [
            F.when(cond, F.expr(expr).cast(types[c]))
            .otherwise(F.col(c))
            .alias(c)
            if c in assignments
            else F.col(c)
            for c, expr in (
                (name, assignments.get(name)) for _id, name, _t in m["columns"]
            )
        ]
        return df.select(*proj)

    return _rewrite_mapped(
        spark, table_path, m, affected, _apply, "update", max_rows, parent=v
    )


def upsert_mapped(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    key_cols: "list[str]",
    max_rows: int = 4096,
) -> int:
    """One-commit MERGE-on-read upsert on a column-mapped table: rows of
    ``df`` replace same-key current rows and insert otherwise — without
    reading the table (O(batch), the Flink-upsert shape).

    The equality-delete file records the key columns under their
    commit-time names but the manifest entry keys on FIELD IDS, so a
    later RENAME of a key column cannot detach standing tombstones
    (reads re-resolve ids to whatever name the schema carries).
    ``df`` must hold at most one row per key."""
    v0 = current_version(table_path)
    columns = table_columns(table_path, v0)
    df = _select_as_standing(df, columns)
    name_to_id = {name: cid for cid, name, _t in columns}
    missing = [c for c in key_cols if c not in name_to_id]
    if missing:
        raise ValueError(f"no such key column(s): {missing}")
    key_ids = [name_to_id[c] for c in key_cols]
    m = read_manifest(table_path, v0)
    eqs = m.get("eqs") or []
    if eqs and eqs[0]["ids"] != key_ids:
        raise ValueError(
            f"table's equality-delete key ids are {eqs[0]['ids']}, got "
            f"{key_ids} — one consistent key set per table"
        )
    from iceberg_file_writer_spark.ingest.equality_deletes import (
        _keys_from_written,
        _write_eq_file,
    )

    new = _write_data_files(_spec_clustered(df, m), table_path, max_rows)
    for e in new:
        e["cols"] = [[c[0], c[1]] for c in columns]
    rel, n = _write_eq_file(
        spark, table_path, _keys_from_written(spark, table_path, new, df, key_cols)
    )
    version = v0 + 1
    eq_entry = {
        "path": rel,
        "seq": version,
        "ids": key_ids,
        "cols": list(key_cols),
        "rows": n,
    }
    extra = {"eqs": eqs + ([eq_entry] if n else [])}
    if m.get("dvs"):
        extra["dvs"] = m["dvs"]
    return _commit_with_columns(
        table_path, "upsert_mor", m["files"] + new, columns,
        extra=extra, parent=v0,
    )


def truncate_mapped(table_path: str) -> int:
    """Logical truncate keeping the logical schema: empty file list and
    BOTH delete classes cleared with the rows they described (the plain
    commit_truncate contract) — carrying them would pin dead sidecar
    files against vacuum and lock the equality-key contract of a table
    that no longer has any rows."""
    v = current_version(table_path)
    return _commit_with_columns(
        table_path,
        "truncate",
        [],
        table_columns(table_path, v),
        extra={"eqs": [], "dvs": []},
        parent=v,
    )


def delete_where_mor_mapped(
    spark: SparkSession, table_path: str, predicate: str
) -> int:
    """Merge-on-read DELETE on a column-mapped table: positional
    tombstones for matching LIVE rows (the predicate scan is DV- and
    eq-applied, so already-deleted rows are not re-tombstoned); zero
    files rewritten. Positions are file-addressed (basename, row index)
    — schema-agnostic, so they survive any amount of column evolution."""
    import shutil
    import uuid

    v = current_version(table_path)
    m = read_manifest(table_path, v)
    dvs = m.get("dvs") or []
    scan = _scan_mapped(spark, table_path, m, with_file=True)
    extra = {"dvs": dvs}
    if m.get("eqs"):
        extra["eqs"] = m["eqs"]
    if scan is None:
        return _commit_with_columns(
            table_path, "delete_mor", m["files"], m["columns"],
            extra=extra, parent=v,
        )
    hits = scan.where(predicate).select(
        F.col("_pos_fn").alias("file_name"),
        F.col("_pos_ri").alias("row_index"),
    )
    dv_rel = f"dv/dv-{uuid.uuid4().hex}"
    hits.write.mode("overwrite").option("compression", "snappy").parquet(
        os.path.join(table_path, dv_rel)
    )
    import pyarrow.parquet as pq

    d = os.path.join(table_path, dv_rel)
    n = sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    if n == 0:
        shutil.rmtree(d)
    else:
        extra["dvs"] = dvs + [dv_rel]
    return _commit_with_columns(
        table_path, "delete_mor", m["files"], m["columns"],
        extra=extra, parent=v,
    )


def overwrite_mapped(
    spark: SparkSession, df: DataFrame, table_path: str, max_rows: int = 4096
) -> int:
    """INSERT OVERWRITE on a column-mapped table: the new snapshot lists
    only the replacement files (stamped with the current mapping); time
    travel still reads every historical epoch."""
    v0 = current_version(table_path)
    columns = table_columns(table_path, v0)
    m = read_manifest(table_path, v0)
    files = _write_data_files(
        _spec_clustered(_select_as_standing(df, columns), m),
        table_path,
        max_rows,
    )
    for e in files:
        e["cols"] = [[c[0], c[1]] for c in columns]
    return _commit_with_columns(
        table_path, "overwrite", files, columns,
        extra={"eqs": [], "dvs": []}, parent=v0,
    )


def compact_mapped(
    spark: SparkSession,
    table_path: str,
    target_rows: int = 65536,
    zorder_by: "tuple[str, str] | None" = None,
    where: "str | None" = None,
) -> int:
    """OPTIMIZE on a column-mapped table: rewrite everything under the
    CURRENT logical schema (epoch groups collapse to one mapping — the
    moment historical physical names are physically retired).
    ``zorder_by=(a, b)`` re-clusters the rewrite along the Morton
    interleave exactly as the plain commit_compact does.

    ``where=<pred>`` scopes the rewrite to files holding matching LIVE
    rows (the predicate resolves through the field-id projection per
    evolution epoch — `_affected_paths`, the same discovery the mapped
    DELETE uses); untouched files carry by reference under their own
    historical mapping, so a scoped OPTIMIZE collapses only the epochs
    it touches. Tombstones carry (the shared `_rewrite_mapped`
    contract); not combinable with ZORDER (two competing layouts)."""
    v0 = current_version(table_path)
    if where is not None:
        if zorder_by is not None:
            raise ValueError(
                "scoped ZORDER would leave the table with two competing "
                "layouts; OPTIMIZE ... ZORDER BY is whole-table"
            )
        m = read_manifest(table_path, v0)
        affected = _affected_paths(spark, table_path, m, where)
        if not affected:
            return _commit_with_columns(
                table_path, "compact", m["files"], m["columns"], parent=v0
            )
        return _rewrite_mapped(
            spark,
            table_path,
            m,
            affected,
            lambda df: df.coalesce(max(1, len(affected) // 8)),
            "compact",
            target_rows,
            parent=v0,
        )
    df = read_mapped(spark, table_path, version=v0)  # MoR-applied state
    columns = table_columns(table_path, v0)
    m_full = read_manifest(table_path, v0)
    if zorder_by is not None:
        if m_full.get("spec"):
            raise ValueError(
                "ZORDER compaction on a spec-partitioned table would fight "
                "the standing hidden-partition layout; compact without "
                "ZORDER (re-clusters along the spec) instead"
            )
        from iceberg_file_writer_spark.operators.zorder import zorder_recluster

        df = zorder_recluster(df, tuple(zorder_by), target_rows)
    else:
        # re-cluster along the standing spec when one rides the table
        # (compaction is exactly the moment to repair layout drift);
        # read_mapped's logical projection already excludes hidden cols
        df = _spec_clustered(df, m_full)
    files = _write_data_files(df, table_path, target_rows)
    for e in files:
        e["cols"] = [[c[0], c[1]] for c in columns]
    # compaction materializes the applied state: tombstones retire
    return _commit_with_columns(
        table_path, "compact", files, columns,
        extra={"eqs": [], "dvs": []}, parent=v0,
    )


def streaming_append_sink_mapped(table_path: str, max_rows: int = 4096):
    """foreachBatch callback: exactly-once appends into a column-mapped
    table — snapshots.streaming_append_sink with the field-id contract.

    Same idempotence protocol (the cumulative ``batch_ids`` ledger rides
    in every commit, so a replayed micro-batch is a no-op read of ONE
    manifest), plus the mapped invariants: batch rows cast to the
    standing logical types, new entries stamped with the CURRENT
    (id, name) mapping, and standing delete classes carried — a stream
    appending into a table someone is concurrently upserting must not
    drop its tombstones. Schema evolution BETWEEN micro-batches is the
    point: a rename lands mid-stream and later batches stamp the new
    mapping while earlier files keep resolving by id.
    """
    from iceberg_file_writer_spark.ingest.snapshots import seen_batch_ids

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        parent = current_version(table_path)
        seen = seen_batch_ids(table_path, parent)
        if batch_id in seen:
            return
        m = read_manifest(table_path, parent)
        columns = m["columns"]
        # intake is name-based and FAILFAST like append_mapped: after a
        # mid-stream rename the stream owner evolves its projection with
        # the table (a silent old-name alias would hide the drift)
        new = _write_data_files(
            _spec_clustered(_select_as_standing(batch_df, columns), m),
            table_path,
            max_rows,
        )
        for e in new:
            e["cols"] = [[c[0], c[1]] for c in columns]
        extra: dict = {
            "batch_id": batch_id,
            "batch_ids": sorted(seen | {batch_id}),
        }
        for k in ("eqs", "dvs"):
            if m.get(k):
                extra[k] = m[k]
        # parent = the version this batch READ: a concurrent commit
        # surfaces as CommitConflict (streaming retries the batch),
        # never a silent rebase that erases the other writer
        _commit_with_columns(
            table_path, "append", m["files"] + new, columns,
            extra=extra, parent=parent,
        )

    return _sink


# --- hidden partitioning on mapped tables -------------------------------------


def respec_mapped(table_path: str, spec: list) -> int:
    """``ALTER TABLE ... SET PARTITION SPEC`` on a column-mapped table:
    metadata-only (zero file moves) — the NAME-keyed user spec is
    pinned to FIELD IDS against the current schema and rides the
    manifest, so every subsequent write clusters by it and a later
    RENAME never detaches the layout. Files written under older specs
    simply lack the new hidden columns' stats and survive pruning
    conservatively (the plain ``commit_respec`` contract). Pass
    ``spec=[]`` to drop the spec."""
    from iceberg_file_writer_spark.ingest.partitioning import (
        spec_names_to_ids,
    )

    v = current_version(table_path)
    m = read_manifest(table_path, v)
    columns = m["columns"]
    return _commit_with_columns(
        table_path,
        "respec",
        m["files"],
        columns,
        extra={"spec": spec_names_to_ids(spec, columns)},
        parent=v,
    )


def prune_entries_mapped(
    files: list, conjuncts: list, columns: list, spec: "list | None"
) -> list:
    """The mapped per-file skipping engine shared by the scan planner
    (``file_skipping._plan_scan``) and the ``snapshot_table`` format's
    pushFilters: each conjunct's column resolves current-name -> field
    id -> THAT file's physical name (its commit-epoch stamp), so stats
    keyed under any historical — or recycled — name prune safely;
    bucket transforms check the id-keyed hidden column with the
    name-keyed pre-conversion form as fallback. Conjuncts naming
    columns outside ``columns`` are skipped (cannot exclude). Missing
    stats => keep.

    Worker-safety contract: this function runs inside the DataSource's
    plan worker, which CANNOT import this package — every helper it
    touches must be a module-level reference (captured pickle-by-value
    at registration), never a function-level import."""
    name_to_id = {name: cid for cid, name, _t in columns}
    buckets = {
        tr[2]: tr[1] for tr in (spec or []) if tr[0] == "bucket"
    }  # fid -> n
    kept = []
    for e in files:
        stamp = {cid: nm for cid, nm in (e.get("cols") or [])}
        stats = e.get("stats") or {}
        ok = True
        for col, op, *rest in conjuncts:
            val = rest[0] if rest else None
            fid = name_to_id.get(col)
            if fid is None:
                continue  # unknown name: cannot exclude
            phys = stamp.get(fid)
            if phys is not None and not _file_can_match(
                stats, phys, op, val
            ):
                ok = False
                break
            n = buckets.get(fid)
            if n is not None and op in ("=", "in"):
                members = [
                    x for x in ([val] if op == "=" else val or [])
                    if x is not None
                ]
                if not all(bucket_probe_safe(x) for x in members):
                    continue  # no faithful bucket id: cannot exclude
                want = sorted({bucket_of(x, n) for x in members})
                cand = [_mapped_bucket_col_name(fid, n)]
                if phys is not None:
                    cand.append(_bucket_col_name(phys, n))
                hidden = next((c for c in cand if c in stats), None)
                if hidden is not None and not _file_can_match(
                    stats, hidden, "in", want
                ):
                    ok = False
                    break
        if ok:
            kept.append(e)
    return kept


# --- row-level change feed (CDC) on mapped tables ----------------------------


def _project_by_id(df: DataFrame, from_cols: list, to_cols: list) -> DataFrame:
    """Re-express a side's logical rows under another version's logical
    schema by FIELD ID: renamed columns line up (same id, new name),
    columns dropped by the target vanish, columns added by the target
    null-fill. This is what makes a rename CDC-silent — both sides of
    the diff resolve to the same logical column."""
    src = {cid: name for cid, name, _t in from_cols}
    extra = [c for c in df.columns if c.startswith("_pos_")]
    return df.select(
        *[
            F.col(src[cid]).cast(typ).alias(name)
            if cid in src
            else F.lit(None).cast(typ).alias(name)
            for cid, name, typ in to_cols
        ],
        *extra,
    )


def _entry_intersects(entry: dict, key_phys: "dict[int, str]", lo: dict, hi: dict) -> bool:
    """Footer-stats prune for the carried-file eq-delta path: can this
    file hold a row whose key falls in the delta keys' bounding box?
    Stats shape is snapshots._footer_stats' [min, max, nulls]; missing
    stats => cannot exclude."""
    st = entry.get("stats") or {}
    for cid, phys in key_phys.items():
        s = st.get(phys)
        if not s or s[0] is None or s[1] is None:
            continue
        l, h = lo.get(cid), hi.get(cid)
        if l is None or h is None:
            continue
        try:
            if s[0] > h or s[1] < l:
                return False
        except TypeError:
            continue
    return True


def changes_between_mapped(
    spark: SparkSession, table_path: str, from_version: int, to_version: int
) -> DataFrame:
    """Netted +/- change feed over a mapped span: ``changes_tagged_mapped``
    plus the multiset-net groupBy + explode (the ``changes_between``
    presentation contract)."""
    tagged = changes_tagged_mapped(
        spark, table_path, from_version, to_version
    )
    if tagged is None:
        empty = read_mapped(spark, table_path, to_version).where(F.lit(False))
        return empty.select(F.lit("+").alias("change"), *empty.columns)
    cols = [c for c in tagged.columns if c != "_d"]
    net = (
        tagged.groupBy(*cols)
        .agg(F.sum("_d").alias("_net"))
        .where(F.col("_net") != 0)
    )
    exploded = net.select(
        *cols,
        F.explode(
            F.expr(
                "transform(sequence(1, abs(_net)), i -> IF(_net > 0, '+', '-'))"
            )
        ).alias("change"),
    )
    return exploded.select("change", *cols)


def changes_tagged_mapped(
    spark: SparkSession, table_path: str, from_version: int, to_version: int
) -> "DataFrame | None":
    """SIGNED pre-net change relation (``_d`` = +1/-1) of a COLUMN-MAPPED
    span, emitted under the TO-version's logical schema — the mapped twin
    of ``snapshots.changes_tagged`` (same sign-linear contract: rows
    netting to zero may appear as paired +1/-1; None = empty feed).

    Same manifest-diff economics as the plain ``changes_between``
    (reference scope note: /root/reference has no CDC at all — this is
    the [extension] feed over the mapped flavor): only files present in
    exactly one manifest, plus carried files whose merge-on-read
    tombstone state changed, are ever read — but every read resolves
    through the field-id projection, so:

    - a metadata-only RENAME / DROP / ADD between the versions emits an
      EMPTY feed (no file changed; both sides project to the same
      logical columns by id) instead of the NULL-filled spurious +/-
      pairs a name-based diff would fabricate,
    - rows from pre-evolution epochs emit under the CURRENT names,
    - a compaction that rewrites bytes without changing values nets to
      zero through the multiset diff, exactly like the plain feed.

    Carried-file deltas diff by POSITION (file basename, row index):
    carried bytes are immutable, so a visibility flip is exactly a
    position present on one side only — no value-hashing needed. The
    eq-delta read set prunes by footer stats against the delta keys'
    bounding box (per-epoch physical key names resolve via each entry's
    own (id, name) list).

    At 100 TB: append-mostly feeds read the new files only; an upsert's
    feed reads the new files plus the stats-pruned carried candidates —
    never the table.
    """
    if from_version > to_version:
        raise ValueError(f"from_version {from_version} > to_version {to_version}")
    ma = read_manifest(table_path, from_version)
    mb = read_manifest(table_path, to_version)
    if "columns" not in mb:
        raise ValueError(
            f"v{to_version} of {table_path} is not column-mapped; use the "
            "plain changes_between"
        )
    if "columns" not in ma:
        raise ValueError(
            f"the range [v{from_version}, v{to_version}] crosses the "
            "CONVERT TO MAPPED commit; start from_version at or after the "
            "conversion (pre-conversion files carry no field-id mapping)"
        )
    cols_b = mb["columns"]

    ea = {e["path"]: e for e in ma["files"]}
    eb = {e["path"]: e for e in mb["files"]}
    only_a = [ea[p] for p in sorted(set(ea) - set(eb))]
    only_b = [eb[p] for p in sorted(set(eb) - set(ea))]
    carried = [ea[p] for p in sorted(set(ea) & set(eb))]
    dvs_a, dvs_b = ma.get("dvs") or [], mb.get("dvs") or []
    eqs_a, eqs_b = ma.get("eqs") or [], mb.get("eqs") or []

    def _visible(m_side: dict, entries: list, with_file: bool) -> "DataFrame | None":
        if not entries:
            return None
        sub = {"columns": m_side["columns"], "files": entries}
        if m_side.get("dvs"):
            sub["dvs"] = m_side["dvs"]
        if m_side.get("eqs"):
            sub["eqs"] = m_side["eqs"]
        return _scan_mapped(spark, table_path, sub, with_file=with_file)

    sides = []  # DataFrames under cols_b (+ "_d" sign)

    removed = _visible(ma, only_a, with_file=False)
    if removed is not None:
        r = _project_by_id(removed, ma["columns"], cols_b)
        sides.append(r.select(F.lit(-1).alias("_d"), *r.columns))
    added = _visible(mb, only_b, with_file=False)
    if added is not None:
        sides.append(added.select(F.lit(1).alias("_d"), *added.columns))

    # carried files: immutable bytes, so only a tombstone-state change
    # can flip a row's visibility — identical MoR state => no reads
    eq_paths_a = {e["path"] for e in eqs_a}
    eq_paths_b = {e["path"] for e in eqs_b}
    if carried and (set(dvs_a) != set(dvs_b) or eq_paths_a != eq_paths_b):
        from iceberg_file_writer_spark.ingest.snapshots import (
            CARRIED_PRUNE_MIN_FILES,
        )

        # few enough carried files that reading them beats the two
        # driver-side pruning jobs (same shortcut as the plain path) —
        # keep everything and skip straight to the position diff
        prune = len(carried) > CARRIED_PRUNE_MIN_FILES
        keep_paths: "set[str]" = (
            set() if prune else {e["path"] for e in carried}
        )
        # (1) positional delta: only files NAMED by the DV symmetric
        # difference can flip through positions (delta is deletion-sized)
        if prune and set(dvs_a) != set(dvs_b):
            def _dv(dvs):
                if not dvs:
                    return None
                return spark.read.parquet(
                    *[os.path.join(table_path, p) for p in dvs]
                ).select("file_name", "row_index")

            da, db = _dv(dvs_a), _dv(dvs_b)
            if da is None:
                delta = db
            elif db is None:
                delta = da
            else:
                delta = db.subtract(da).unionByName(da.subtract(db))
            if delta is not None:
                hit = {
                    r.file_name
                    for r in delta.select("file_name").distinct().collect()
                }
                bn = {os.path.basename(e["path"]): e["path"] for e in carried}
                keep_paths |= {bn[n] for n in hit if n in bn}
        # (2) key delta: files whose footer stats intersect the delta
        # keys' bounding box (per-epoch physical names via entry cols)
        delta_eq = [e for e in eqs_b if e["path"] not in eq_paths_a] + [
            e for e in eqs_a if e["path"] not in eq_paths_b
        ]
        if prune and delta_eq:
            key_ids = delta_eq[0]["ids"]
            dparts = None
            for e in delta_eq:
                p = spark.read.parquet(
                    os.path.join(table_path, e["path"])
                ).select(
                    *[
                        F.col(nm).alias(f"_k_{cid}")
                        for cid, nm in zip(e["ids"], e["cols"])
                    ]
                )
                dparts = p if dparts is None else dparts.unionByName(p)
            b = dparts.agg(
                *[F.min(f"_k_{i}").alias(f"lo_{i}") for i in key_ids],
                *[F.max(f"_k_{i}").alias(f"hi_{i}") for i in key_ids],
            ).collect()[0]
            lo = {i: b[f"lo_{i}"] for i in key_ids}
            hi = {i: b[f"hi_{i}"] for i in key_ids}
            for e in carried:
                phys = {
                    cid: nm
                    for cid, nm in (e.get("cols") or [])
                    if cid in key_ids
                }
                if _entry_intersects(e, phys, lo, hi):
                    keep_paths.add(e["path"])
        keep = [e for e in carried if e["path"] in keep_paths]
        if keep:
            va = _project_by_id(
                _visible(ma, keep, with_file=True), ma["columns"], cols_b
            )
            vb = _visible(mb, keep, with_file=True)
            pos = ["_pos_fn", "_pos_ri"]
            minus = va.join(vb.select(*pos), pos, "left_anti").drop(*pos)
            plus = vb.join(va.select(*pos), pos, "left_anti").drop(*pos)
            sides.append(minus.select(F.lit(-1).alias("_d"), *minus.columns))
            sides.append(plus.select(F.lit(1).alias("_d"), *plus.columns))

    if not sides:
        return None
    tagged = sides[0]
    for s_df in sides[1:]:
        tagged = tagged.unionByName(s_df)
    return tagged
