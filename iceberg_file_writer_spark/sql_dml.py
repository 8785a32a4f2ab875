"""SQL DML surface for snapshot tables [extension — not in reference].

Spark's ``DELETE FROM`` / ``UPDATE`` / ``MERGE INTO`` SQL statements
only route to v2 DataSources through a catalog plugin (a JVM jar this
environment cannot load — SURVEY §7.0), so the Python verbs
(``commit_delete_where``, ``commit_update_where``, ``commit_upsert``,
…) were the only mutation API. This module closes the usability gap:
``execute_dml(spark, sql, tables)`` accepts the standard statement
TEXT and routes it to the matching verb.

Division of labor — deliberately thin:
- This module parses only the statement SHAPE (verb, table name,
  clause boundaries) with anchored regexes. Every EXPRESSION — the
  WHERE predicate, SET right-hand sides, the INSERT source query — is
  handed verbatim to Spark SQL, which owns parsing/typing/evaluation.
  There is no second expression grammar to drift from Spark's.
- Semantics come from the verbs, which already carry the table-format
  contracts (CoW affected-file rewrites, MoR one-commit upserts, seq
  scoping, spec re-application, snapshot isolation), so a statement
  and its verb are the same operation by construction.

Statements (one per call; trailing ``;`` allowed):

    DELETE FROM t [WHERE <pred>]                      -> commit_delete_where
                                         (no WHERE -> commit_truncate)
    DELETE FROM t USING MOR WHERE <pred>              -> commit_delete_where_mor
    UPDATE t SET c = <expr>[, ...] [WHERE <pred>]     -> commit_update_where
    INSERT INTO t <query>                             -> commit_append
    INSERT OVERWRITE [TABLE] t <query>                -> commit_overwrite
    MERGE INTO t USING (<query>) ON t.k = s.k [AND ...]
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *                  -> commit_upsert (MoR)
    MERGE INTO t [AS ta] USING (<query>) AS sa ON ...
      WHEN MATCHED THEN UPDATE SET c = <expr>[, ...]
      WHEN NOT MATCHED THEN INSERT *                  -> column-wise merge
                                         (joined SET projection -> upsert)
    MERGE INTO ... [either SET form] ...
      WHEN NOT MATCHED BY SOURCE THEN DELETE          -> full-sync merge
                                         (result = matched+inserted rows,
                                          committed as an overwrite)

The column-wise MERGE evaluates each SET expression with BOTH aliases
in scope (``ta.col``/``sa.col``, standard MERGE scoping), projects the
matched target rows through the assignments, unions the not-matched
source rows, and commits the result through the same one-commit MoR
upsert as the whole-row form. The MoR DELETE opt-in mirrors Iceberg's
write.delete.mode table property, spelled inline.

    OPTIMIZE t [ZORDER BY (a, b)] [WHERE <pred>]      -> commit_compact
                                         (ZORDER: Morton re-clustering —
                                          both columns' zone maps tighten;
                                          WHERE: predicate-scoped rewrite —
                                          only files holding matching rows
                                          rewrite, the rest carry by
                                          reference; not combinable with
                                          ZORDER)
    ANALYZE TABLE t [COMPUTE STATISTICS]
                    [FOR COLUMNS a, b]                -> commit_analyze
                                         (persisted NDV/null/min/max +
                                          row count; read via table_stats)
    VACUUM t [RETAIN <n> VERSIONS]                    -> maintenance.vacuum

    COPY INTO t FROM '<file-or-dir>'
                [FORMAT PARQUET|CSV|AVRO]             -> copy_into.copy_into
                                         (file-idempotent bulk load: the
                                          manifest's "copied" ledger makes
                                          re-runs skip already-loaded files;
                                          rows decode TARGET-shaped — Avro
                                          via the jar-free codec with the
                                          table schema as reader schema)

    CREATE MATERIALIZED VIEW mv AS
      SELECT <keys>, count(*)/count(c)/sum(c)/avg(c)
        AS <alias>... FROM t GROUP BY <keys>          -> mview.create_mview
                                         (incremental maintenance: REFRESH
                                          folds the base table's change
                                          feed — O(changes), never O(table);
                                          reads serve the materialized
                                          state; avg derives at read time)
    REFRESH MATERIALIZED VIEW mv                      -> mview.refresh_mview
    DROP MATERIALIZED VIEW mv                         -> mview.drop_mview
    CREATE INDEX ON t (c, ...) USING BLOOM
                  [WITH FPP 0.01]                     -> attach_bloom_index
                                         (incremental: only uncovered files
                                          index, so re-running after appends
                                          IS the refresh; field-id-keyed on
                                          mapped tables — rename-proof)
    CREATE INDEX ON t (id, text) USING INVERTED       -> text_index.build
                                         (Lucene-shaped segments; fresh
                                          under metadata-only commits,
                                          appends-only re-run indexes just
                                          the new files, retractions
                                          rebuild; probe via
                                          text_search('t', 'query', k))
    DROP INDEX ON t                                   -> drops every standing
                                         index kind (bloom: metadata-only
                                         detach commit, sidecars GC via
                                         VACUUM; inverted: artifact removal)

DDL (column-mapped tables — field-id schema evolution from birth):

    CREATE TABLE t AS <query>                -> create_mapped_table
    CREATE TABLE t (a BIGINT, b STRING, ...) -> create_mapped_table (an
                                                EMPTY mapped table with
                                                the declared schema)
    DESCRIBE [TABLE] t [VERSION AS OF n]     -> (execute_query) the
                                                logical schema relation:
                                                col_name/data_type/
                                                field_id (ids NULL on
                                                plain tables)
    TRUNCATE TABLE t                         -> empty commit (schema kept;
                                                plain tables: commit_truncate)
    ALTER TABLE t CONVERT TO MAPPED          -> convert_to_mapped (upgrade
                                                a plain table, metadata-only)
    ALTER TABLE t ADD COLUMN c <type>        -> evolve_mapped(adds)
    ALTER TABLE t RENAME COLUMN a TO b       -> evolve_mapped(renames)
    ALTER TABLE t DROP COLUMN c              -> evolve_mapped(drops)
    DROP TABLE t                             -> remove the table directory
    RESTORE TABLE t [TO] VERSION AS OF n     -> commit_rollback (linear
                                                append-only history; on
                                                mapped tables the CURRENT
                                                mapping carries — schema
                                                is never rolled back)

CREATE TABLE AS makes a COLUMN-MAPPED table (ingest/column_mapping.py):
every ALTER is a metadata-only commit, zero data bytes move, and reads
resolve files by field id (read_mapped). On mapped tables the verbs
route to mapping-aware twins: INSERT INTO -> append_mapped, DELETE/
UPDATE -> CoW rewrites that resolve through the field-id projection and
stamp rewritten files with the current mapping (untouched epochs carry
by reference), INSERT OVERWRITE -> overwrite_mapped, OPTIMIZE ->
compact_mapped (collapses evolution epochs into the current schema).
MERGE (whole-row AND column-wise, incl. full-sync) routes to
upsert_mapped/overwrite_mapped: the one-commit equality-delete upsert
whose delete file keys on FIELD IDS, so renaming a key column cannot
detach standing tombstones; DELETE USING MOR routes to the positional
twin (file-addressed tombstones — schema-agnostic by construction).
read_mapped applies both delete classes with Iceberg v2 semantics, and
every mapped verb carries or clears them explicitly. The FULL statement
surface — DML, DDL, OPTIMIZE [ZORDER], ANALYZE, VACUUM — works on both
table flavors.

Reads: ``execute_query(spark, sql, tables)`` runs a SELECT with
standard time-travel syntax. A single-relation SELECT whose WHERE is a
pure conjunction reads through the one file-skipping scan planner
(zone maps, bucket transforms and bloom sidecars prune files before
any data IO, for every table layout; conservative extraction
per ingest/predicate_extract.py, row-identical by construction —
``execute_query.last_scan`` exposes the (kept, total) file counts).
``SHOW MATERIALIZED VIEWS`` / ``SHOW INDEXES ON t`` report the standing
maintenance state. Time travel: — ``FROM t VERSION AS OF 3`` /
``FROM t TIMESTAMP AS OF '2024-01-05 00:00:00'`` (or epoch millis) —
each reference resolved to its as-of snapshot state (mapped tables by
field id, so a pre-rename version reads under its OWN schema), bare
references to CURRENT, and any mix joinable in one statement.

``tables`` maps statement table names to snapshot-table paths; source
relations inside INSERT/MERGE queries resolve against the session's
temp views (``load_tables`` / ``create_views``), so a statement can
join testdata, query views, and snapshot tables in one breath.

Returns the committed version (or the vacuum report dict).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_WS = r"\s+"
_ID = r"[A-Za-z_][A-Za-z0-9_.]*"

_DELETE_RE = re.compile(
    rf"^DELETE{_WS}FROM{_WS}(?P<t>{_ID})(?:{_WS}USING{_WS}MOR)?"
    rf"(?:{_WS}WHERE{_WS}(?P<pred>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_MOR_RE = re.compile(
    rf"^DELETE{_WS}FROM{_WS}{_ID}{_WS}USING{_WS}MOR\b", re.IGNORECASE
)
_UPDATE_RE = re.compile(
    rf"^UPDATE{_WS}(?P<t>{_ID}){_WS}SET{_WS}(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    rf"^INSERT{_WS}INTO{_WS}(?P<t>{_ID}){_WS}(?P<q>(?:SELECT|VALUES|WITH|TABLE).+)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_OVERWRITE_RE = re.compile(
    rf"^INSERT{_WS}OVERWRITE(?:{_WS}TABLE)?{_WS}(?P<t>{_ID})"
    rf"{_WS}(?P<q>(?:SELECT|VALUES|WITH|TABLE).+)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_RE = re.compile(
    rf"^MERGE{_WS}INTO{_WS}(?P<t>{_ID})(?:{_WS}(?:AS{_WS})?(?P<talias>{_ID}))?"
    rf"{_WS}USING{_WS}\((?P<q>.+)\)(?:{_WS}(?:AS{_WS})?(?P<salias>{_ID}))?"
    rf"{_WS}ON{_WS}(?P<on>.+?)"
    rf"{_WS}WHEN{_WS}MATCHED{_WS}THEN{_WS}UPDATE{_WS}SET{_WS}(?P<sets>.+?)"
    rf"{_WS}WHEN{_WS}NOT{_WS}MATCHED{_WS}THEN{_WS}INSERT{_WS}\*"
    rf"(?P<sync>{_WS}WHEN{_WS}NOT{_WS}MATCHED{_WS}BY{_WS}SOURCE"
    rf"{_WS}THEN{_WS}DELETE)?$",
    re.IGNORECASE | re.DOTALL,
)
_OPTIMIZE_RE = re.compile(
    rf"^OPTIMIZE{_WS}(?P<t>{_ID})"
    rf"(?:{_WS}ZORDER{_WS}BY{_WS}\(\s*(?P<z1>{_ID})\s*,\s*(?P<z2>{_ID})\s*\))?"
    rf"(?:{_WS}WHERE{_WS}(?P<pred>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_TRUNCATE_RE = re.compile(
    rf"^TRUNCATE{_WS}TABLE{_WS}(?P<t>{_ID})$", re.IGNORECASE
)
_CREATE_SCHEMA_RE = re.compile(
    rf"^CREATE{_WS}TABLE{_WS}(?P<t>{_ID})\s*\((?P<cols>.+?)\)"
    rf"(?:{_WS}PARTITIONED{_WS}BY\s*\((?P<spec>.+?)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DESCRIBE_RE = re.compile(
    rf"^DESC(?:RIBE)?(?:{_WS}TABLE)?{_WS}(?P<t>{_ID})"
    rf"(?:{_WS}VERSION{_WS}AS{_WS}OF{_WS}(?P<v>\d+))?$",
    re.IGNORECASE,
)
_SHOW_TABLES_RE = re.compile(rf"^SHOW{_WS}TABLES$", re.IGNORECASE)
_SHOW_VIEWS_RE = re.compile(rf"^SHOW{_WS}VIEWS$", re.IGNORECASE)
_CREATE_VIEW_RE = re.compile(
    rf"^CREATE(?:{_WS}OR{_WS}REPLACE)?{_WS}VIEW{_WS}(?P<v>{_ID}){_WS}AS"
    rf"{_WS}(?P<q>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIEW_RE = re.compile(
    rf"^DROP{_WS}VIEW{_WS}(?P<v>{_ID})$", re.IGNORECASE
)
_CREATE_MVIEW_RE = re.compile(
    rf"^CREATE{_WS}(?P<rep>OR{_WS}REPLACE{_WS})?MATERIALIZED{_WS}VIEW"
    rf"{_WS}(?P<v>{_ID}){_WS}AS{_WS}(?P<q>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MVIEW_RE = re.compile(
    rf"^REFRESH{_WS}MATERIALIZED{_WS}VIEW{_WS}(?P<v>{_ID})$", re.IGNORECASE
)
_DROP_MVIEW_RE = re.compile(
    rf"^DROP{_WS}MATERIALIZED{_WS}VIEW{_WS}(?P<v>{_ID})$", re.IGNORECASE
)
_SHOW_MVIEWS_RE = re.compile(
    rf"^SHOW{_WS}MATERIALIZED{_WS}VIEWS$", re.IGNORECASE
)
_CREATE_INDEX_RE = re.compile(
    rf"^CREATE{_WS}INDEX{_WS}ON{_WS}(?P<t>{_ID})\s*"
    rf"\((?P<cols>[^)]+)\){_WS}USING{_WS}(?P<kind>BLOOM|INVERTED)"
    rf"(?:{_WS}WITH{_WS}FPP{_WS}(?P<fpp>0?\.\d+))?$",
    re.IGNORECASE,
)
_DROP_INDEX_RE = re.compile(
    rf"^DROP{_WS}INDEX{_WS}ON{_WS}(?P<t>{_ID})$", re.IGNORECASE
)
_SHOW_INDEXES_RE = re.compile(
    rf"^SHOW{_WS}INDEXES{_WS}ON{_WS}(?P<t>{_ID})$", re.IGNORECASE
)
_SHOW_CREATE_RE = re.compile(
    rf"^SHOW{_WS}CREATE{_WS}TABLE{_WS}(?P<t>{_ID})$", re.IGNORECASE
)
_COPY_INTO_RE = re.compile(
    rf"^COPY{_WS}INTO{_WS}(?P<t>{_ID}){_WS}FROM{_WS}"
    r"'(?P<src>[^']+)'"
    rf"(?:{_WS}FORMAT{_WS}(?P<fmt>[A-Za-z]+))?$",
    re.IGNORECASE,
)
_CTAS_RE = re.compile(
    rf"^CREATE{_WS}TABLE{_WS}(?P<t>{_ID})"
    rf"(?:{_WS}PARTITIONED{_WS}BY\s*\((?P<spec>.+?)\))?{_WS}AS"
    rf"{_WS}(?P<q>(?:SELECT|VALUES|WITH|TABLE).+)$",
    re.IGNORECASE | re.DOTALL,
)
# PARTITIONED BY transform list: day(ts) | month(ts) | year(ts) |
# hour(ts) | bucket(16, id) | truncate(4, name) — Iceberg's transform
# spelling, pinned to FIELD IDS at create time (column mapping)
_SPEC_ITEM_RE = re.compile(
    rf"^(?P<fn>day|month|year|hour|bucket|truncate)\s*\("
    rf"(?:(?P<n>\d+)\s*,\s*)?(?P<c>{_ID})\)$",
    re.IGNORECASE,
)


def _parse_partition_spec(text: str) -> list:
    """``day(ts), bucket(16, id)`` -> the NAME-keyed spec list the
    mapped create pins to field ids."""
    spec = []
    for item in re.split(r",(?![^()]*\))", text):
        item = item.strip()
        m = _SPEC_ITEM_RE.match(item)
        if not m:
            raise ValueError(
                f"cannot parse partition transform {item!r}; supported: "
                "day/month/year/hour(col), bucket(n, col), "
                "truncate(width, col)"
            )
        fn = m.group("fn").lower()
        if fn in ("bucket", "truncate"):
            if m.group("n") is None:
                raise ValueError(f"{fn} needs a numeric first argument")
            spec.append((fn, int(m.group("n")), m.group("c")))
        else:
            if m.group("n") is not None:
                raise ValueError(f"{fn} takes a single column argument")
            spec.append((fn, m.group("c")))
    return spec
_DROP_TABLE_RE = re.compile(
    rf"^DROP{_WS}TABLE{_WS}(?P<t>{_ID})(?:{_WS}(?P<cascade>CASCADE))?$",
    re.IGNORECASE,
)
_ALTER_ADD_RE = re.compile(
    rf"^ALTER{_WS}TABLE{_WS}(?P<t>{_ID}){_WS}ADD{_WS}COLUMN{_WS}"
    rf"(?P<c>[A-Za-z_][A-Za-z0-9_]*){_WS}(?P<typ>.+?)"
    rf"(?:{_WS}DEFAULT{_WS}(?P<dflt>.+))?$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_default_literal(raw: str):
    """A DEFAULT literal: quoted string, integer, float, boolean, or
    NULL — JSON-storable scalars only (they ride in the manifest)."""
    s = raw.strip()
    if s.upper() == "NULL":
        return None
    if s.startswith("'") and s.endswith("'") and len(s) >= 2:
        return s[1:-1].replace("''", "'")
    if s.upper() in ("TRUE", "FALSE"):
        return s.upper() == "TRUE"
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        raise ValueError(
            f"unsupported DEFAULT literal {raw!r}: use a quoted string, "
            "number, boolean, or NULL"
        )
_ALTER_CONVERT_RE = re.compile(
    rf"^ALTER{_WS}TABLE{_WS}(?P<t>{_ID}){_WS}CONVERT{_WS}TO{_WS}MAPPED$",
    re.IGNORECASE,
)
_ALTER_RENAME_RE = re.compile(
    rf"^ALTER{_WS}TABLE{_WS}(?P<t>{_ID}){_WS}RENAME{_WS}COLUMN{_WS}"
    rf"(?P<old>[A-Za-z_][A-Za-z0-9_]*){_WS}TO{_WS}"
    rf"(?P<new>[A-Za-z_][A-Za-z0-9_]*)$",
    re.IGNORECASE,
)
_ALTER_DROP_RE = re.compile(
    rf"^ALTER{_WS}TABLE{_WS}(?P<t>{_ID}){_WS}DROP{_WS}COLUMN{_WS}"
    rf"(?P<c>[A-Za-z_][A-Za-z0-9_]*)$",
    re.IGNORECASE,
)
_ALTER_SPEC_RE = re.compile(
    rf"^ALTER{_WS}TABLE{_WS}(?P<t>{_ID}){_WS}SET{_WS}PARTITION{_WS}SPEC"
    rf"\s*\((?P<spec>.*?)\)$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_TYPE_RE = re.compile(
    rf"^ALTER{_WS}TABLE{_WS}(?P<t>{_ID}){_WS}ALTER{_WS}COLUMN{_WS}"
    rf"(?P<c>[A-Za-z_][A-Za-z0-9_]*){_WS}TYPE{_WS}(?P<typ>.+)$",
    re.IGNORECASE,
)
# branch/tag lifecycle verbs (r12 missing #4): Iceberg's ALTER TABLE
# spellings, plus PUBLISH BRANCH (the WAP fast-forward) and a branch-
# scoped INSERT so the whole write-audit-publish flow is statement text
_BRANCH_TAG_DDL_RE = re.compile(
    rf"^ALTER{_WS}TABLE{_WS}(?P<t>{_ID}){_WS}(?P<verb>CREATE|DROP){_WS}"
    rf"(?P<kind>BRANCH|TAG){_WS}(?P<n>[A-Za-z_][A-Za-z0-9_]*)"
    rf"(?:{_WS}AS{_WS}OF{_WS}VERSION{_WS}(?P<v>\d+))?$",
    re.IGNORECASE,
)
_PUBLISH_BRANCH_RE = re.compile(
    rf"^ALTER{_WS}TABLE{_WS}(?P<t>{_ID}){_WS}PUBLISH{_WS}BRANCH{_WS}"
    rf"(?P<n>[A-Za-z_][A-Za-z0-9_]*)$",
    re.IGNORECASE,
)
_INSERT_BRANCH_RE = re.compile(
    rf"^INSERT{_WS}INTO{_WS}(?P<t>{_ID}){_WS}BRANCH{_WS}"
    rf"(?P<n>[A-Za-z_][A-Za-z0-9_]*){_WS}"
    rf"(?P<q>(?:SELECT|VALUES|WITH|TABLE).+)$",
    re.IGNORECASE | re.DOTALL,
)
_ANALYZE_RE = re.compile(
    rf"^ANALYZE{_WS}TABLE{_WS}(?P<t>{_ID})(?:{_WS}COMPUTE{_WS}STATISTICS)?"
    rf"(?:{_WS}FOR{_WS}COLUMNS{_WS}(?P<cols>[A-Za-z0-9_,\s]+))?$",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(
    rf"^VACUUM{_WS}(?P<t>{_ID})(?:{_WS}RETAIN{_WS}(?P<n>\d+){_WS}VERSIONS)?$",
    re.IGNORECASE,
)
_RESTORE_RE = re.compile(
    rf"^RESTORE{_WS}TABLE{_WS}(?P<t>{_ID}){_WS}(?:TO{_WS})?"
    rf"VERSION{_WS}AS{_WS}OF{_WS}(?P<v>\d+)$",
    re.IGNORECASE,
)
_ON_EQ_RE = re.compile(
    rf"^\s*(?:(?P<la>{_ID})\.)?(?P<lc>[A-Za-z_][A-Za-z0-9_]*)\s*=\s*"
    rf"(?:(?P<ra>{_ID})\.)?(?P<rc>[A-Za-z_][A-Za-z0-9_]*)\s*$"
)


def _split_top_level_keyword(s: str, kw: str) -> "tuple[str, str | None]":
    """Split ``s`` at its first TOP-LEVEL standalone occurrence of
    ``kw`` — same paren/quote awareness as ``_split_top_level_commas``,
    so ``SET a = (SELECT x FROM v WHERE y)`` or a string literal
    containing the word WHERE never mis-splits (ADVICE r9). Returns
    (before, after) with after=None when kw never appears top-level."""
    depth, q, i, n, kl = 0, None, 0, len(s), len(kw)
    while i < n:
        ch = s[i]
        if q:
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and s[i : i + kl].upper() == kw.upper():
            standalone = (i == 0 or s[i - 1].isspace()) and (
                i + kl >= n or s[i + kl].isspace()
            )
            if standalone:
                return s[:i].rstrip(), s[i + kl :].strip()
        i += 1
    return s.strip(), None


def _split_top_level_commas(s: str) -> list[str]:
    """Split SET assignments on commas not nested in () or quotes —
    expressions stay opaque, only the list shape is parsed here."""
    parts, depth, q, start = [], 0, None, 0
    for i, ch in enumerate(s):
        if q:
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _align_to_table(spark: SparkSession, df, path: str):
    """Cast an INSERT/MERGE source to the target's standing schema —
    SQL store-assignment semantics. Without the cast, a source literal
    typed DECIMAL(2,1) (Spark's type for ``-7.0``) lands in a table
    whose files hold DOUBLE and every later mergeSchema read fails with
    CANNOT_MERGE_SCHEMAS. Requires the exact column set (any order)."""
    from pyspark.sql import functions as F

    from iceberg_file_writer_spark.ingest.snapshots import (
        current_version,
        read_table_version,
    )

    if current_version(path) == 0:
        return df  # genesis insert defines the schema
    target = read_table_version(spark, path).schema
    want = {f.name for f in target.fields}
    have = set(df.columns)
    if want != have:
        raise ValueError(
            f"source columns {sorted(have)} != table columns {sorted(want)}"
        )
    return df.select(
        *[F.col(f.name).cast(f.dataType) for f in target.fields]
    )


def _parse_assignments(sets: str) -> "dict[str, str]":
    """``c = expr[, ...]`` -> {col: expr}; expressions stay opaque."""
    assignments = {}
    for part in _split_top_level_commas(sets):
        col, eq, expr = part.partition("=")
        if not eq or not col.strip().replace("`", "").isidentifier():
            raise ValueError(f"malformed SET assignment: {part!r}")
        assignments[col.strip().strip("`")] = expr.strip()
    if not assignments:
        raise ValueError(f"malformed SET assignment: {sets!r}")
    return assignments


def _merge_column_wise(
    spark: SparkSession,
    path: str,
    q: str,
    talias: str,
    salias: str,
    on: str,
    assignments: "dict[str, str]",
    keys: "list[str]",
    max_rows: int,
    sync: bool = False,
    mapped: bool = False,
):
    """``WHEN MATCHED THEN UPDATE SET c = expr`` MERGE: matched target
    rows are projected through the assignments with BOTH aliases in
    scope (standard MERGE expression scoping — ``SET v = s.v + t.v``
    works), not-matched source rows ride as inserts, and the union
    commits through the same one-commit MoR upsert as the whole-row
    form. One target scan + one source scan; the join and anti-join
    both key on the MERGE ON columns, so at scale they shuffle once on
    the same key. With ``sync`` (WHEN NOT MATCHED BY SOURCE THEN
    DELETE), target-only rows drop too — the matched+inserted union IS
    the new table state, committed as one overwrite."""
    import uuid as _uuid

    from iceberg_file_writer_spark.ingest.equality_deletes import commit_upsert
    from iceberg_file_writer_spark.ingest.partitioning import _is_hidden
    from iceberg_file_writer_spark.ingest.snapshots import read_table_version

    if mapped:
        from iceberg_file_writer_spark.ingest.column_mapping import read_mapped

        tdf = read_mapped(spark, path)
    else:
        tdf = read_table_version(spark, path)
    visible = [f.name for f in tdf.schema.fields if not _is_hidden(f.name)]
    unknown = set(assignments) - set(visible)
    if unknown:
        raise ValueError(f"MERGE sets unknown column(s): {sorted(unknown)}")
    overlap = set(assignments) & set(keys)
    if overlap:
        raise ValueError(
            f"MERGE must not update its ON key column(s): {sorted(overlap)}"
        )
    tview = f"__dml_merge_target_{_uuid.uuid4().hex[:8]}"
    tdf.select(*[f"`{c}`" for c in visible]).createOrReplaceTempView(tview)
    try:
        proj = ", ".join(
            f"({assignments[c]}) AS `{c}`"
            if c in assignments
            else f"`{talias}`.`{c}`"
            for c in visible
        )
        matched = spark.sql(
            f"SELECT {proj} FROM {tview} AS `{talias}` "
            f"JOIN ({q}) AS `{salias}` ON {on}"
        )
        inserted = spark.sql(
            f"SELECT `{salias}`.* FROM ({q}) AS `{salias}` "
            f"LEFT ANTI JOIN {tview} AS `{talias}` ON {on}"
        )
        merged = matched.unionByName(inserted, allowMissingColumns=False)
        if mapped:
            from iceberg_file_writer_spark.ingest.column_mapping import (
                overwrite_mapped,
                upsert_mapped,
            )

            if sync:
                return overwrite_mapped(spark, merged, path, max_rows=max_rows)
            return upsert_mapped(spark, merged, path, keys, max_rows=max_rows)
        upsert_rows = _align_to_table(spark, merged, path)
        if sync:
            from iceberg_file_writer_spark.ingest.snapshots import (
                commit_overwrite,
            )

            return commit_overwrite(spark, upsert_rows, path, max_rows=max_rows)
        return commit_upsert(spark, path, upsert_rows, keys, max_rows=max_rows)
    finally:
        spark.catalog.dropTempView(tview)


def _describe_spec(spark, path: str, version: "int | None"):
    """DESCRIBE's trailing '# partition spec' row when the (as-of)
    manifest carries a hidden-partition spec — transforms rendered
    under the as-of names (mapped specs are field-id-keyed); absent on
    spec-less tables, so DESCRIBE output is unchanged for them."""
    from iceberg_file_writer_spark.ingest.snapshots import (
        current_version,
        read_manifest,
    )

    v = current_version(path) if version is None else version
    try:
        m = read_manifest(path, v)
    except FileNotFoundError:
        return None
    spec = m.get("spec")
    if not spec:
        return None
    if "columns" in m:
        id2n = {cid: name for cid, name, _t in m["columns"]}

        def _n(ref):
            return id2n.get(ref, f"f{ref}")
    else:

        def _n(ref):
            return ref

    parts = []
    for tr in spec:
        if tr[0] in ("day", "month", "year", "hour"):
            parts.append(f"{tr[0]}({_n(tr[1])})")
        elif tr[0] in ("bucket", "truncate"):
            parts.append(f"{tr[0]}({tr[1]}, {_n(tr[2])})")
        elif tr[0] == "zorder":
            parts.append(f"zorder({', '.join(_n(c) for c in tr[1])})")
    return ("# partition spec", ", ".join(parts), None)


def _table_exists(path: str) -> bool:
    import os

    from iceberg_file_writer_spark.ingest.snapshots import _snap_dir

    return os.path.exists(os.path.join(_snap_dir(path), "CURRENT"))


def _is_mapped(path: str) -> bool:
    """True when the table carries field-id column mapping (created via
    CREATE TABLE AS / create_mapped_table)."""
    from iceberg_file_writer_spark.ingest.snapshots import (
        current_version,
        read_manifest,
    )

    if not _table_exists(path):
        return False
    return "columns" in read_manifest(path, current_version(path))


def _resolve(tables: "dict[str, str]", name: str) -> str:
    if name not in tables:
        raise ValueError(
            f"unknown snapshot table {name!r}; known: {sorted(tables)}"
        )
    return tables[name]


def _merge_keys(on: str, t_names: set, s_names: set) -> list[str]:
    """Key columns from an AND-of-equalities ON clause; each equality
    must pair the same column name across target and source (the
    whole-row upsert contract)."""
    keys = []
    for conj in re.split(r"(?i)\s+AND\s+", on.strip()):
        m = _ON_EQ_RE.match(conj)
        if not m:
            raise ValueError(
                f"MERGE ON supports AND-ed column equalities only; got {conj!r}"
            )
        la, lc, ra, rc = m.group("la"), m.group("lc"), m.group("ra"), m.group("rc")
        if lc != rc:
            raise ValueError(
                f"MERGE ON must equate same-named key columns "
                f"(whole-row upsert); got {lc} = {rc}"
            )
        for alias in (la, ra):
            if alias and alias not in t_names | s_names:
                raise ValueError(f"unknown alias {alias!r} in MERGE ON")
        keys.append(lc)
    return keys


def execute_dml(
    spark: SparkSession,
    sql: str,
    tables: "dict[str, str] | None" = None,
    max_rows: int = 4096,
    catalog=None,
):
    """Execute one DML statement against snapshot tables (module doc).

    ``tables={name: path}`` is the per-call override; ``catalog`` (a
    ``catalog.Catalog`` or a warehouse directory path) resolves every
    other bare name durably — CREATE TABLE registers a fresh
    ``<warehouse>/<name>`` slot, DROP TABLE unregisters it, and the
    binding survives across statements, sessions, and processes."""
    from iceberg_file_writer_spark.catalog import Scope
    from iceberg_file_writer_spark.ingest.deletion_vectors import (
        commit_delete_where_mor,
    )
    from iceberg_file_writer_spark.ingest.equality_deletes import commit_upsert
    from iceberg_file_writer_spark.ingest.maintenance import vacuum
    from iceberg_file_writer_spark.ingest.snapshots import (
        commit_append,
        commit_compact,
        commit_delete_where,
        commit_overwrite,
        commit_truncate,
        commit_update_where,
    )

    tables = Scope(tables, catalog)
    stmt = sql.strip().rstrip(";").strip()

    m = _CREATE_VIEW_RE.match(stmt)
    if m:
        # a DURABLE view: stored SQL text in the warehouse catalog,
        # re-planned at every reference (non-materialized). Validated
        # now by planning it once — a typo fails at CREATE, not at the
        # first read. CREATE OR REPLACE overwrites.
        if tables.catalog is None:
            raise ValueError(
                "CREATE VIEW needs a catalog/warehouse (views are "
                "durable catalog objects)"
            )
        execute_query(
            spark, m.group("q"), tables.tables, catalog=tables.catalog
        )  # plan-validate only (lazy — no execution)
        if not re.match(r"(?i)^CREATE\s+OR\s+REPLACE", stmt) and (
            m.group("v") in tables.catalog.view_names()
        ):
            raise ValueError(
                f"view exists: {m.group('v')} (use CREATE OR REPLACE VIEW)"
            )
        tables.catalog.register_view(m.group("v"), m.group("q").strip())
        return None

    m = _DROP_VIEW_RE.match(stmt)
    if m:
        if tables.catalog is None:
            raise ValueError("DROP VIEW needs a catalog/warehouse")
        if m.group("v") not in tables.catalog.view_names():
            raise ValueError(f"no such view: {m.group('v')}")
        tables.catalog.unregister_view(m.group("v"))
        return None

    m = _CREATE_MVIEW_RE.match(stmt)
    if m:
        # a MATERIALIZED view: the incremental agg-view engine behind a
        # statement (ingest/mview.py) — one full aggregation now, then
        # change-feed-sized REFRESHes; reads serve the materialized
        # state. Registration happens only after the state exists.
        from iceberg_file_writer_spark.ingest.mview import create_mview

        return create_mview(
            spark,
            tables,
            m.group("v"),
            m.group("q"),
            replace=bool(m.group("rep")),
        )

    m = _REFRESH_MVIEW_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.mview import refresh_mview

        if tables.catalog is None:
            raise ValueError(
                "REFRESH MATERIALIZED VIEW needs a catalog/warehouse"
            )
        return refresh_mview(spark, tables.catalog, m.group("v"))

    m = _DROP_MVIEW_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.mview import drop_mview

        if tables.catalog is None:
            raise ValueError(
                "DROP MATERIALIZED VIEW needs a catalog/warehouse"
            )
        drop_mview(tables.catalog, m.group("v"))
        return None

    m = _CREATE_INDEX_RE.match(stmt)
    if m:
        # index builds are incremental by construction — only files not
        # yet covered index, so re-running after appends IS the refresh
        # verb. Returns files newly indexed.
        cols = [c.strip() for c in m.group("cols").split(",")]
        path = _resolve(tables, m.group("t"))
        if m.group("kind").upper() == "INVERTED":
            if m.group("fpp"):
                raise ValueError("WITH FPP applies to BLOOM indexes only")
            if len(cols) != 2:
                raise ValueError(
                    "USING INVERTED takes exactly (id_col, text_col)"
                )
            from iceberg_file_writer_spark.ingest.text_index import (
                build_text_index,
            )

            return build_text_index(spark, path, cols[0], cols[1])
        from iceberg_file_writer_spark.ingest.bloom_index import (
            attach_bloom_index,
        )

        fpp = float(m.group("fpp")) if m.group("fpp") else 0.01
        return attach_bloom_index(spark, path, cols, fpp=fpp)

    m = _DROP_INDEX_RE.match(stmt)
    if m:
        # drops EVERY standing index on the table (bloom: metadata-only
        # detach commit; inverted: artifact removal); loud when none
        from iceberg_file_writer_spark.ingest.bloom_index import (
            detach_bloom_index,
        )
        from iceberg_file_writer_spark.ingest.text_index import (
            drop_text_index,
            read_text_index_meta,
        )

        path = _resolve(tables, m.group("t"))
        out = None
        dropped = False
        try:
            out = detach_bloom_index(path)
            dropped = True
        except ValueError:
            pass  # no bloom index — the text index may still exist
        if read_text_index_meta(path) is not None:
            drop_text_index(path)
            dropped = True
        if not dropped:
            raise ValueError(f"no index on {path}")
        return out

    m = _COPY_INTO_RE.match(stmt)
    if m:
        # the reference's pipeline as a statement: file-idempotent bulk
        # load (the manifest's "copied" ledger makes re-runs skip seen
        # files). Returns {"version", "files_loaded", "files_skipped"}.
        from iceberg_file_writer_spark.ingest.copy_into import copy_into

        return copy_into(
            spark,
            _resolve(tables, m.group("t")),
            m.group("src"),
            fmt=(m.group("fmt") or "parquet"),
            max_rows=max_rows,
        )

    m = _CTAS_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.column_mapping import (
            create_mapped_table,
        )

        # existence check BEFORE create_path's durable catalog binding:
        # a refused CTAS must not leave the bare name bound (r12 ADVICE)
        path = tables.peek_create_path(m.group("t"))
        if _table_exists(path):
            raise ValueError(f"table exists: {m.group('t')} ({path})")
        spec = (
            _parse_partition_spec(m.group("spec")) if m.group("spec") else None
        )
        df = spark.sql(m.group("q"))  # plan/analyze BEFORE the binding
        path = tables.create_path(m.group("t"))
        try:
            return create_mapped_table(
                spark, df, path, max_rows=max_rows, spec=spec
            )
        except BaseException:
            # a failed CTAS must not leave the name durably bound to a
            # directory that was never created (r12 ADVICE)
            if not _table_exists(path):
                tables.on_drop(m.group("t"))
            raise

    m = _CREATE_SCHEMA_RE.match(stmt)
    if m:
        # CREATE TABLE t (a BIGINT, b STRING ...): an EMPTY column-mapped
        # table with the declared schema — field ids assigned 1..n, every
        # later write/evolution flows through the same mapped verbs as a
        # CTAS-born table (read_mapped synthesizes the schema for the
        # empty state). Column definitions parse as Spark DDL, so any
        # Spark type spelling works.
        from iceberg_file_writer_spark.ingest.column_mapping import (
            create_mapped_table,
        )

        path = tables.peek_create_path(m.group("t"))
        if _table_exists(path):
            raise ValueError(f"table exists: {m.group('t')} ({path})")
        spec = (
            _parse_partition_spec(m.group("spec")) if m.group("spec") else None
        )
        empty = spark.createDataFrame([], m.group("cols").strip())
        path = tables.create_path(m.group("t"))
        try:
            return create_mapped_table(
                spark, empty, path, max_rows=max_rows, spec=spec
            )
        except BaseException:
            if not _table_exists(path):
                tables.on_drop(m.group("t"))
            raise

    m = _DROP_TABLE_RE.match(stmt)
    if m:
        import shutil

        path = _resolve(tables, m.group("t"))
        if not _table_exists(path):
            raise ValueError(f"no such table: {m.group('t')} ({path})")
        cat = getattr(tables, "catalog", None)
        if cat is not None:
            # dependency check at DROP time (r11 missing #4): a durable
            # view referencing the table would dangle — refuse without
            # CASCADE; with it, drop the dependent views too
            deps = cat.views_referencing(m.group("t"))
            if deps and not m.group("cascade"):
                raise ValueError(
                    f"view(s) {deps} reference table {m.group('t')!r}; "
                    "DROP TABLE ... CASCADE drops them too, or DROP "
                    "VIEW them first"
                )
            mdeps = cat.mviews_referencing(m.group("t"))
            if mdeps and not m.group("cascade"):
                raise ValueError(
                    f"materialized view(s) {mdeps} are maintained over "
                    f"table {m.group('t')!r}; DROP TABLE ... CASCADE "
                    "drops them too, or DROP MATERIALIZED VIEW them first"
                )
            for v in deps:
                cat.unregister_view(v)
            if mdeps:
                from iceberg_file_writer_spark.ingest.mview import drop_mview

                for v in mdeps:
                    drop_mview(cat, v)
        shutil.rmtree(path)
        tables.on_drop(m.group("t"))
        return None

    m = _ALTER_ADD_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.column_mapping import evolve_mapped

        add = (m.group("c"), m.group("typ").strip().lower())
        if m.group("dflt") is not None:
            # initial DEFAULT (Iceberg v3): rows written before the
            # column existed read this instead of NULL — metadata-only
            add = add + (_parse_default_literal(m.group("dflt")),)
        return evolve_mapped(
            _resolve(tables, m.group("t")),
            adds=[add],
        )

    m = _ALTER_CONVERT_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.column_mapping import (
            convert_to_mapped,
        )

        return convert_to_mapped(spark, _resolve(tables, m.group("t")))

    m = _ALTER_RENAME_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.column_mapping import evolve_mapped

        return evolve_mapped(
            _resolve(tables, m.group("t")),
            renames={m.group("old"): m.group("new")},
        )

    m = _ALTER_DROP_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.column_mapping import evolve_mapped

        return evolve_mapped(
            _resolve(tables, m.group("t")), drops=[m.group("c")]
        )

    m = _BRANCH_TAG_DDL_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.branching import (
            create_branch,
            delete_branch,
        )
        from iceberg_file_writer_spark.ingest.tags import (
            create_tag,
            delete_tag,
        )

        path = _resolve(tables, m.group("t"))
        kind = m.group("kind").upper()
        at = int(m.group("v")) if m.group("v") else None
        if m.group("verb").upper() == "CREATE":
            if kind == "BRANCH":
                if _is_mapped(path):
                    raise ValueError(
                        "branches are not supported on column-mapped "
                        "tables; use a plain snapshot table or WAP via "
                        "tags"
                    )
                create_branch(path, m.group("n"), at_version=at)
                return None
            return create_tag(path, m.group("n"), version=at)
        if m.group("v"):
            raise ValueError("DROP BRANCH|TAG takes no AS OF VERSION")
        (delete_branch if kind == "BRANCH" else delete_tag)(
            path, m.group("n")
        )
        return None

    m = _PUBLISH_BRANCH_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.branching import publish_branch

        return publish_branch(_resolve(tables, m.group("t")), m.group("n"))

    m = _INSERT_BRANCH_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.branching import (
            commit_append_branch,
        )

        path = _resolve(tables, m.group("t"))
        if _is_mapped(path):
            raise ValueError(
                "branches are not supported on column-mapped tables"
            )
        return commit_append_branch(
            spark,
            _align_to_table(spark, spark.sql(m.group("q")), path),
            path,
            m.group("n"),
            max_rows=max_rows,
        )

    m = _ALTER_TYPE_RE.match(stmt)
    if m:
        # type widening along Iceberg's promotion lattice — metadata-only
        # (r12 missing #3); narrowing refuses inside the verb
        from iceberg_file_writer_spark.ingest.column_mapping import (
            alter_column_type_mapped,
        )

        return alter_column_type_mapped(
            _resolve(tables, m.group("t")), m.group("c"),
            m.group("typ").strip(),
        )

    m = _ALTER_SPEC_RE.match(stmt)
    if m:
        # partition-spec evolution, metadata-only on both table flavors;
        # an empty transform list drops the spec
        path = _resolve(tables, m.group("t"))
        spec = (
            _parse_partition_spec(m.group("spec"))
            if m.group("spec").strip()
            else []
        )
        if _is_mapped(path):
            from iceberg_file_writer_spark.ingest.column_mapping import (
                respec_mapped,
            )

            return respec_mapped(path, spec)
        from iceberg_file_writer_spark.ingest.partitioning import commit_respec

        return commit_respec(path, [list(tr) for tr in spec])

    m = _RESTORE_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.snapshots import commit_rollback

        path = _resolve(tables, m.group("t"))
        if not _table_exists(path):
            raise ValueError(f"no such table: {m.group('t')} ({path})")
        return commit_rollback(path, int(m.group("v")))

    m = _TRUNCATE_RE.match(stmt)
    if m:
        path = _resolve(tables, m.group("t"))
        if _is_mapped(path):
            from iceberg_file_writer_spark.ingest.column_mapping import (
                truncate_mapped,
            )

            return truncate_mapped(path)
        return commit_truncate(path)

    m = _DELETE_RE.match(stmt)
    if m:
        path = _resolve(tables, m.group("t"))
        mapped = _is_mapped(path)
        if m.group("pred") is None:
            if mapped:
                from iceberg_file_writer_spark.ingest.column_mapping import (
                    truncate_mapped,
                )

                return truncate_mapped(path)
            # bare DELETE FROM t = logical truncate (metadata-only)
            return commit_truncate(path)
        if _DELETE_MOR_RE.match(stmt):
            if mapped:
                from iceberg_file_writer_spark.ingest.column_mapping import (
                    delete_where_mor_mapped,
                )

                return delete_where_mor_mapped(spark, path, m.group("pred"))
            return commit_delete_where_mor(spark, path, m.group("pred"))
        if mapped:
            from iceberg_file_writer_spark.ingest.column_mapping import (
                delete_where_mapped,
            )

            return delete_where_mapped(
                spark, path, m.group("pred"), max_rows=max_rows
            )
        return commit_delete_where(
            spark, path, m.group("pred"), max_rows=max_rows
        )

    m = _UPDATE_RE.match(stmt)
    if m:
        sets, pred = _split_top_level_keyword(m.group("rest"), "WHERE")
        assignments = _parse_assignments(sets)
        path = _resolve(tables, m.group("t"))
        if _is_mapped(path):
            from iceberg_file_writer_spark.ingest.column_mapping import (
                update_where_mapped,
            )

            return update_where_mapped(
                spark, path, pred or "true", assignments, max_rows=max_rows
            )
        return commit_update_where(
            spark,
            path,
            pred or "true",
            assignments,
            max_rows=max_rows,
        )

    m = _INSERT_OVERWRITE_RE.match(stmt)
    if m:
        path = _resolve(tables, m.group("t"))
        if _is_mapped(path):
            from iceberg_file_writer_spark.ingest.column_mapping import (
                overwrite_mapped,
            )

            return overwrite_mapped(
                spark, spark.sql(m.group("q")), path, max_rows=max_rows
            )
        return commit_overwrite(
            spark,
            _align_to_table(spark, spark.sql(m.group("q")), path),
            path,
            max_rows=max_rows,
        )

    m = _INSERT_RE.match(stmt)
    if m:
        path = _resolve(tables, m.group("t"))
        if _is_mapped(path):
            from iceberg_file_writer_spark.ingest.column_mapping import (
                append_mapped,
            )

            return append_mapped(
                spark, spark.sql(m.group("q")), path, max_rows=max_rows
            )
        return commit_append(
            spark,
            _align_to_table(spark, spark.sql(m.group("q")), path),
            path,
            max_rows=max_rows,
        )

    m = _MERGE_RE.match(stmt)
    if m:
        t = m.group("t")
        talias = m.group("talias") or t
        salias = m.group("salias")
        aliases_t = {t, talias}
        aliases_s = {salias} - {None}
        keys = _merge_keys(m.group("on"), aliases_t, aliases_s)
        path = _resolve(tables, t)
        sets = m.group("sets").strip()
        sync = m.group("sync") is not None
        if _is_mapped(path):
            if sets == "*":
                from iceberg_file_writer_spark.ingest.column_mapping import (
                    overwrite_mapped,
                    upsert_mapped,
                )

                src_df = spark.sql(m.group("q"))
                if sync:
                    # SET * + INSERT * + NOT MATCHED BY SOURCE DELETE:
                    # the result IS the source relation (module doc)
                    return overwrite_mapped(
                        spark, src_df, path, max_rows=max_rows
                    )
                return upsert_mapped(
                    spark, src_df, path, keys, max_rows=max_rows
                )
            return _merge_column_wise(
                spark,
                path,
                m.group("q"),
                talias,
                salias or "__dml_src",
                m.group("on"),
                _parse_assignments(sets),
                keys,
                max_rows,
                sync=sync,
                mapped=True,
            )
        if sets == "*":
            src = _align_to_table(spark, spark.sql(m.group("q")), path)
            if sync:
                # SET * + INSERT * + NOT MATCHED BY SOURCE DELETE:
                # matched rows become source rows, source-only rows
                # insert, target-only rows drop — the result IS the
                # source relation, committed as one overwrite
                return commit_overwrite(spark, src, path, max_rows=max_rows)
            return commit_upsert(spark, path, src, keys, max_rows=max_rows)
        return _merge_column_wise(
            spark,
            path,
            m.group("q"),
            talias,
            salias or "__dml_src",
            m.group("on"),
            _parse_assignments(sets),
            keys,
            max_rows,
            sync=sync,
        )

    m = _OPTIMIZE_RE.match(stmt)
    if m:
        path = _resolve(tables, m.group("t"))
        z = (m.group("z1"), m.group("z2")) if m.group("z1") else None
        pred = m.group("pred")
        if _is_mapped(path):
            from iceberg_file_writer_spark.ingest.column_mapping import (
                compact_mapped,
            )

            return compact_mapped(spark, path, zorder_by=z, where=pred)
        return commit_compact(spark, path, zorder_by=z, where=pred)

    m = _ANALYZE_RE.match(stmt)
    if m:
        from iceberg_file_writer_spark.ingest.snapshots import commit_analyze

        cols = None
        if m.group("cols"):
            cols = [c.strip() for c in m.group("cols").split(",") if c.strip()]
        return commit_analyze(spark, _resolve(tables, m.group("t")), cols)

    m = _VACUUM_RE.match(stmt)
    if m:
        keep = int(m.group("n") or 2)
        return vacuum(_resolve(tables, m.group("t")), keep_last=keep)

    raise ValueError(
        "unsupported DML statement (see sql_dml module doc for the "
        f"accepted grammar): {stmt[:120]!r}"
    )


# --- SQL reads with time travel ----------------------------------------------

_ASOF_RE = re.compile(
    rf"\b(?P<t>{_ID}){_WS}(?P<kind>VERSION|TIMESTAMP){_WS}AS{_WS}OF"
    rf"{_WS}(?P<v>\d+|'[^']+')",
    re.IGNORECASE,
)

# FROM t FOR BRANCH b / FOR TAG g — named-ref reads (WAP audit surface)
_FORREF_RE = re.compile(
    rf"\b(?P<t>{_ID}){_WS}FOR{_WS}(?P<kind>BRANCH|TAG){_WS}"
    r"(?P<n>[A-Za-z_][A-Za-z0-9_]*)",
    re.IGNORECASE,
)

# SELECT ... FROM table_changes('t', v1[, v2]) — Delta's table-valued CDC
# form — and the typed variant table_changes_typed('t', v1, v2, 'k'...)
# (Delta CDF's _change_type shape keyed by the listed columns). v2
# omitted = the table's CURRENT version.
_TABLE_CHANGES_RE = re.compile(
    r"\btable_changes(?P<typed>_typed)?\s*\(\s*'(?P<t>[^']+)'\s*,"
    r"\s*(?P<a>\d+|'[^']+')\s*(?:,\s*(?P<b>\d+|'[^']+')\s*)?"
    r"(?P<keys>(?:,\s*'[^']+'\s*)*)\)",
    re.IGNORECASE,
)
_TEXT_SEARCH_RE = re.compile(
    r"\btext_search\s*\(\s*'(?P<t>[^']+)'\s*,"
    r"\s*'(?P<q>(?:[^']|'')*)'\s*,\s*(?P<k>\d+)\s*\)",
    re.IGNORECASE,
)


def _cdf_bound(path: str, raw: str) -> int:
    """A table_changes version bound: a plain integer version, or a
    quoted ISO timestamp resolved via version_asof (Delta's form)."""
    if raw.startswith("'"):
        from datetime import datetime, timezone

        from iceberg_file_writer_spark.ingest.snapshots import version_asof

        dt = datetime.fromisoformat(raw.strip("'")).replace(
            tzinfo=timezone.utc
        )
        return version_asof(path, int(dt.timestamp() * 1000))
    return int(raw)


def _quoted_spans_of(text: str) -> list:
    """Spans of string literals ('' escapes included): rewrites must
    never substitute inside them — quoted text is data."""
    return [q.span() for q in re.finditer(r"'(?:[^']|'')*'", text)]


# DESCRIBE HISTORY t — Delta's statement form of the history relation
_DESCRIBE_HISTORY_RE = re.compile(
    rf"^DESC(?:RIBE)?{_WS}HISTORY{_WS}(?P<t>{_ID})$", re.IGNORECASE
)

# t$snapshots / t$files / t$history / t$partitions / t$refs / t$stats —
# Iceberg's metadata-table reference suffix, routed to inspect_table
_META_REF_RE = re.compile(
    rf"\b(?P<t>{_ID})\$"
    r"(?P<kind>snapshots|files|history|partitions|refs|stats)\b",
    re.IGNORECASE,
)


def execute_query(
    spark: SparkSession,
    sql: str,
    tables: "dict[str, str] | None" = None,
    catalog=None,
    _depth: int = 0,
):
    """Run a SELECT over snapshot tables with standard time-travel
    syntax: ``FROM t VERSION AS OF 3`` / ``FROM t TIMESTAMP AS OF
    '2024-01-05 00:00:00'`` (or epoch millis). Each as-of reference is
    resolved through read_table_version/read_table_asof (mapped tables
    through read_mapped) and substituted as a temp view; bare references
    to known snapshot tables resolve to their CURRENT version. Every
    other name resolves against the session's existing temp views, so a
    query can join time-traveled table states with live testdata.

    Returns the result DataFrame (lazy — the views live for the
    session). Same division of labor as execute_dml: only the
    table-reference SHAPE is parsed; the query itself is Spark SQL's.
    """
    import uuid as _uuid

    from iceberg_file_writer_spark.catalog import Scope
    from iceberg_file_writer_spark.ingest.snapshots import (
        read_table_version,
        version_asof,
    )

    tables = Scope(tables, catalog)
    stmt = sql.strip().rstrip(";")
    if _depth == 0:
        # pruned-scan observability: (kept, total) file counts of the
        # last substituted scan this statement, None when no
        # substitution applied (gated shape, no conjuncts, or error)
        execute_query.last_scan = None

    if _SHOW_MVIEWS_RE.match(stmt):
        from iceberg_file_writer_spark.ingest.mview import mview_status

        rows = (
            mview_status(spark, tables.catalog)
            if tables.catalog is not None
            else []
        )
        return spark.createDataFrame(
            rows,
            "name string, base_table string, keys string, value_col "
            "string, view_version bigint, table_version bigint, "
            "stale boolean",
        )

    scm = _SHOW_CREATE_RE.match(stmt)
    if scm:
        # reconstructed DDL from the manifest: mapped tables from the
        # (id, name, type) mapping, the hidden-partition spec rendered
        # with CURRENT column names (zorder terms are clustering-only
        # and not part of PARTITIONED BY)
        from iceberg_file_writer_spark.ingest.snapshots import (
            current_version,
            read_manifest,
        )

        name = scm.group("t")
        path = _resolve(tables, name)
        m = read_manifest(path, current_version(path))
        if "columns" in m:
            cols = [(c[1], c[2]) for c in m["columns"]]
            id_to_name = {c[0]: c[1] for c in m["columns"]}
        else:
            from iceberg_file_writer_spark.ingest.snapshots import (
                read_table_version,
            )

            cols = [
                (f.name, f.dataType.simpleString())
                for f in read_table_version(spark, path).schema.fields
            ]
            id_to_name = None

        def _nm(x):
            if id_to_name is not None and x in id_to_name:
                return id_to_name[x]
            return str(x)

        parts = []
        for tr in m.get("spec") or []:
            if tr[0] in ("day", "month", "year", "hour"):
                parts.append(f"{tr[0]}({_nm(tr[1])})")
            elif tr[0] in ("bucket", "truncate"):
                parts.append(f"{tr[0]}({tr[1]}, {_nm(tr[2])})")
        ddl = (
            f"CREATE TABLE {name} ("
            + ", ".join(f"{c} {t.upper()}" for c, t in cols)
            + ")"
        )
        if parts:
            ddl += " PARTITIONED BY (" + ", ".join(parts) + ")"
        return spark.createDataFrame([(ddl,)], "createtab_stmt string")

    sim = _SHOW_INDEXES_RE.match(stmt)
    if sim:
        # bloom rows count FILES (covered/total); inverted rows reuse
        # the two counters for DOCS indexed / SEGMENTS — the units that
        # matter for a postings artifact
        from iceberg_file_writer_spark.ingest.bloom_index import (
            bloom_index_report,
        )
        from iceberg_file_writer_spark.ingest.text_index import (
            text_index_report,
        )

        path = _resolve(tables, sim.group("t"))
        rows = bloom_index_report(path) + text_index_report(path)
        return spark.createDataFrame(
            rows,
            "column string, kind string, files_covered bigint, "
            "files_total bigint",
        )

    if _SHOW_VIEWS_RE.match(stmt):
        # SHOW VIEWS: the warehouse's durable views with their stored SQL
        rows = (
            [
                (n, tables.catalog.view_sql(n))
                for n in tables.catalog.view_names()
            ]
            if tables.catalog is not None
            else []
        )
        return spark.createDataFrame(rows, "view_name string, sql string")

    if _SHOW_TABLES_RE.match(stmt):
        # SHOW TABLES: the statement scope — override names plus the
        # warehouse catalog — with each table's path and existence
        rows = [
            (name, path, _table_exists(path))
            for name, path in tables.items()
        ]
        return spark.createDataFrame(
            rows, "table_name string, path string, exists boolean"
        )

    dm = _DESCRIBE_RE.match(stmt)
    if dm:
        # DESCRIBE [TABLE] t [VERSION AS OF n]: the logical schema as a
        # relation — (col_name, data_type, field_id), field ids NULL on
        # plain (name-based) tables. Time travel shows the AS-OF schema
        # (a pre-rename version describes under its own names).
        path = _resolve(tables, dm.group("t"))
        version = int(dm.group("v")) if dm.group("v") else None
        if _is_mapped(path):
            from iceberg_file_writer_spark.ingest.column_mapping import (
                table_columns,
            )

            rows = [
                (name, typ, int(cid))
                for cid, name, typ in table_columns(path, version)
            ]
        else:
            from iceberg_file_writer_spark.ingest.snapshots import (
                read_table_version as _rtv,
            )

            rows = [
                (f.name, f.dataType.simpleString(), None)
                for f in _rtv(spark, path, version).schema.fields
            ]
        spec_row = _describe_spec(spark, path, version)
        if spec_row is not None:
            rows.append(spec_row)
        return spark.createDataFrame(
            rows, "col_name string, data_type string, field_id long"
        )

    dh = _DESCRIBE_HISTORY_RE.match(stmt)
    if dh:
        # DESCRIBE HISTORY t (Delta's shape): the commit log as a
        # relation — the debugging surface users reach for first
        # (r12 missing #2), previously Python-only via inspect_table
        from iceberg_file_writer_spark.ingest.inspect import inspect_table

        return inspect_table(spark, _resolve(tables, dh.group("t")), "history")

    # metadata-table references (t$snapshots, t$files, ...): substitute
    # BEFORE the bare-name rewrite (whose \b-matching would otherwise
    # clobber the 't' prefix of 't$files'). Right-to-left, quote-aware.
    meta_spans = _quoted_spans_of(stmt)
    for m in reversed(list(_META_REF_RE.finditer(stmt))):
        if any(a <= m.start() < b for a, b in meta_spans):
            continue
        name = m.group("t")
        if name not in tables:
            continue  # not a known table: leave for Spark to resolve
        from iceberg_file_writer_spark.ingest.inspect import inspect_table

        kind = m.group("kind").lower()
        view = f"__meta_{name}_{kind}_{_uuid.uuid4().hex[:8]}"
        inspect_table(spark, tables[name], kind).createOrReplaceTempView(view)
        stmt = stmt[: m.start()] + view + stmt[m.end():]

    # named-ref reads (r12 missing #4): FROM t FOR BRANCH b / FOR TAG g
    # — a tag resolves to its pinned version (mapped tables route
    # through read_mapped like any time travel), a branch reads its
    # head (what CURRENT would become on publish). Before the as-of and
    # bare-name rewrites so neither clobbers the 't' prefix.
    fr_spans = _quoted_spans_of(stmt)
    for m in reversed(list(_FORREF_RE.finditer(stmt))):
        name = m.group("t")
        if name not in tables or any(
            a <= m.start() < b for a, b in fr_spans
        ):
            continue
        path = tables[name]
        if m.group("kind").upper() == "TAG":
            from iceberg_file_writer_spark.ingest.tags import list_tags

            tags = list_tags(path)
            if m.group("n") not in tags:
                raise ValueError(f"no tag {m.group('n')!r} on {path}")
            tv = tags[m.group("n")]["version"]
            if _is_mapped(path):
                from iceberg_file_writer_spark.ingest.column_mapping import (
                    read_mapped,
                )

                ref = read_mapped(spark, path, version=tv)
            else:
                from iceberg_file_writer_spark.ingest.snapshots import (
                    read_table_version as _rtv2,
                )

                ref = _rtv2(spark, path, tv)
        else:
            from iceberg_file_writer_spark.ingest.branching import read_branch

            ref = read_branch(spark, path, m.group("n"))
        view = f"__ref_{name}_{_uuid.uuid4().hex[:8]}"
        ref.createOrReplaceTempView(view)
        stmt = stmt[: m.start()] + view + stmt[m.end():]

    # change-feed table references FIRST (r12 missing #1): the call's
    # table name rides inside a string literal, so neither the as-of
    # nor the bare-name rewrite can ever see it — resolve each call to
    # a temp view over changes_between/changes_typed (mapped tables
    # route through the field-id feed automatically). Right-to-left so
    # earlier spans stay valid; quote-aware so a call spelled inside a
    # bigger string literal stays data.
    tc_spans = _quoted_spans_of(stmt)
    for m in reversed(list(_TABLE_CHANGES_RE.finditer(stmt))):
        if any(a <= m.start() < b for a, b in tc_spans):
            continue
        from iceberg_file_writer_spark.ingest.snapshots import (
            changes_between,
            changes_typed,
            current_version,
        )

        name = m.group("t")
        if name not in tables:
            raise ValueError(
                f"table_changes references unknown table {name!r}"
            )
        path = tables[name]
        v1 = _cdf_bound(path, m.group("a"))
        v2 = (
            _cdf_bound(path, m.group("b"))
            if m.group("b")
            else current_version(path)
        )
        keys = re.findall(r"'([^']+)'", m.group("keys") or "")
        if m.group("typed"):
            if not keys:
                raise ValueError(
                    "table_changes_typed needs key column(s): "
                    "table_changes_typed('t', v1, v2, 'k1'[, 'k2'...])"
                )
            feed = changes_typed(spark, path, v1, v2, keys)
        else:
            if keys:
                raise ValueError(
                    "table_changes takes ('t', v1[, v2]); for key-paired "
                    "insert/delete/update rows use table_changes_typed"
                )
            feed = changes_between(spark, path, v1, v2)
        view = f"__cdf_{name}_{_uuid.uuid4().hex[:8]}"
        feed.createOrReplaceTempView(view)
        stmt = stmt[: m.start()] + view + stmt[m.end():]

    # BM25 retrieval as a table-valued reference — same rewrite shape
    # as table_changes: the table name rides in a string literal, so
    # only this resolver can see it; right-to-left and quote-aware
    ts_spans = _quoted_spans_of(stmt)
    for m in reversed(list(_TEXT_SEARCH_RE.finditer(stmt))):
        if any(a <= m.start() < b for a, b in ts_spans):
            continue
        name = m.group("t")
        if name not in tables:
            raise ValueError(
                f"text_search references unknown table {name!r}"
            )
        from iceberg_file_writer_spark.ingest.text_index import text_search

        hits = text_search(
            spark,
            tables[name],
            m.group("q").replace("''", "'"),
            int(m.group("k")),
        )
        view = f"__txt_{name}_{_uuid.uuid4().hex[:8]}"
        hits.createOrReplaceTempView(view)
        stmt = stmt[: m.start()] + view + stmt[m.end():]

    rewritten = stmt

    def _read(path: str, version: "int | None") -> "object":
        if _is_mapped(path):
            from iceberg_file_writer_spark.ingest.column_mapping import (
                read_mapped,
            )

            return read_mapped(spark, path, version=version)
        return read_table_version(spark, path, version)

    # quoted segments are data: compute their spans once so neither the
    # as-of rewrite nor the bare-name rewrite ever touches them
    def _in_quotes(spans: list, pos: int) -> bool:
        return any(a <= pos < b for a, b in spans)

    spans = _quoted_spans_of(stmt)
    # replace by exact match SPANS, right-to-left (str.replace would
    # also clobber prefixes of longer literals: '... AS OF 3' inside
    # '... AS OF 33')
    for m in reversed(list(_ASOF_RE.finditer(stmt))):
        name = m.group("t")
        if name not in tables or _in_quotes(spans, m.start()):
            continue
        path = tables[name]
        raw = m.group("v")
        if m.group("kind").upper() == "VERSION":
            version = int(raw)
        else:
            if raw.startswith("'"):
                ts = raw.strip("'")
                from datetime import datetime, timezone

                dt = datetime.fromisoformat(ts).replace(tzinfo=timezone.utc)
                ms = int(dt.timestamp() * 1000)
            else:
                ms = int(raw)
            # read_table_asof is read_table_version(version_asof(...));
            # resolving the version here lets mapped routing share it
            version = version_asof(path, ms)
        view = f"__tt_{name}_{_uuid.uuid4().hex[:8]}"
        _read(path, version).createOrReplaceTempView(view)
        rewritten = (
            rewritten[: m.start()] + view + rewritten[m.end():]
        )
    # bare references to known snapshot tables -> CURRENT state.
    # Substitution is quote-aware: a table name inside a string literal
    # is data, not a reference.
    def _sub_outside_quotes(text: str, name: str, view: str) -> str:
        parts = re.split(r"('(?:[^']|'')*')", text)
        pat = re.compile(rf"\b{re.escape(name)}\b")
        return "".join(
            p if p.startswith("'") else pat.sub(view, p)
            for p in parts
        )

    # MATERIALIZED views resolve to their standing state (that is what
    # materialized means — no re-planning, no base-table read)
    if tables.catalog is not None:
        from iceberg_file_writer_spark.ingest.mview import read_mview

        for name in tables.catalog.mview_names():
            probe = _sub_outside_quotes(rewritten, name, "\x00")
            if "\x00" not in probe:
                continue
            view = f"__mv_{name}_{_uuid.uuid4().hex[:8]}"
            read_mview(spark, tables.catalog, name).createOrReplaceTempView(
                view
            )
            rewritten = _sub_outside_quotes(rewritten, name, view)

    # durable catalog VIEWS resolve first (a view's stored SQL may
    # reference catalog tables, time travel, or other views — the
    # recursive execute_query handles all of it; depth-capped so a
    # view cycle fails loudly instead of recursing forever)
    if tables.catalog is not None:
        if _depth > 8:
            raise ValueError(
                "view resolution exceeded depth 8 — circular views?"
            )
        for name in tables.catalog.view_names():
            probe = _sub_outside_quotes(rewritten, name, "\x00")
            if "\x00" not in probe:
                continue
            view = f"__vw_{name}_{_uuid.uuid4().hex[:8]}"
            execute_query(
                spark,
                tables.catalog.view_sql(name),
                tables.tables,
                catalog=tables.catalog,
                _depth=_depth + 1,
            ).createOrReplaceTempView(view)
            rewritten = _sub_outside_quotes(rewritten, name, view)
    # statement-level pruned scan: a single-relation SELECT whose WHERE
    # is a pure conjunction reads through the one scan planner
    # (file_skipping.scan_table, every layout) — zone maps, the spec's
    # bucket transforms and bloom sidecars exclude files before any
    # data IO. The extraction is conservative by
    # contract (ingest/predicate_extract.py): any shape in doubt falls
    # back to the full read, and the statement's own WHERE always
    # re-applies in full, so substitution can never change results.
    from iceberg_file_writer_spark.ingest.predicate_extract import (
        safe_conjuncts,
        single_table_target,
    )

    gate = single_table_target(rewritten)
    for name, path in tables.items():
        probe = _sub_outside_quotes(rewritten, name, "\x00")
        if "\x00" not in probe:
            continue
        if not _table_exists(path):
            continue
        df = None
        if gate is not None and gate[0] == name and gate[2]:
            conjs = safe_conjuncts(gate[2], {name, gate[1] or name})
            df = _pruned_read(spark, path, conjs) if conjs else None
        if df is None:
            df = _read(path, None)
        view = f"__tt_{name}_cur_{_uuid.uuid4().hex[:8]}"
        df.createOrReplaceTempView(view)
        rewritten = _sub_outside_quotes(rewritten, name, view)
    return spark.sql(rewritten)


def _pruned_read(spark: SparkSession, path: str, conjuncts: list):
    """File-skipping read of ``path`` under ``conjuncts``, or None to
    fall back to the full read (unknown columns, unprunable types, any
    analysis error — the conservative default is always available).

    Conjuncts pass the TYPE gate first (``typed_conjuncts``): a literal
    whose type does not match the column's declared type is dropped —
    the pruners compare against CAST-style renderings, and a
    wrong-typed probe could false-negative (silently lost rows)."""
    from iceberg_file_writer_spark.ingest.file_skipping import scan_table
    from iceberg_file_writer_spark.ingest.predicate_extract import (
        typed_conjuncts,
    )

    try:
        if _is_mapped(path):
            from iceberg_file_writer_spark.ingest.column_mapping import (
                table_columns,
            )

            pairs = [(name, typ) for _id, name, typ in table_columns(path)]
        else:
            pairs = _plain_type_pairs(path)
        conjs = typed_conjuncts(conjuncts, pairs)
        if not conjs:
            return None
        df = scan_table(spark, path, conjs)
        execute_query.last_scan = scan_table.last_files
        return df
    except Exception:
        execute_query.last_scan = None
        return None


def _plain_type_pairs(path: str) -> list:
    """(column, type-class) pairs for a plain table's type gate from
    ONE parquet footer (the newest file — fullest schema under additive
    evolution) instead of a full Spark relation build. Columns absent
    from that file simply drop their conjuncts — conservative."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_file_writer_spark.ingest.snapshots import (
        current_version,
        read_manifest,
    )

    m = read_manifest(path, current_version(path))
    files = m.get("files") or []
    if not files:
        return []
    schema = pq.read_schema(os.path.join(path, files[-1]["path"]))
    pairs = []
    for field in schema:
        t = field.type
        if pa.types.is_boolean(t):
            cls = "boolean"
        elif pa.types.is_integer(t):
            cls = "bigint"
        elif pa.types.is_floating(t):
            cls = "double"
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            cls = "string"
        else:
            cls = "other"  # timestamp/date/decimal/nested: gate drops
        pairs.append((field.name, cls))
    return pairs


def _split_statements(script: str) -> list:
    """Quote-aware top-level semicolon split (a ';' inside a string
    literal is data). Empty fragments (trailing ';', blank lines
    between statements) drop."""
    parts, buf, i, n = [], [], 0, len(script)
    in_str = False
    while i < n:
        ch = script[i]
        if in_str:
            if ch == "'":
                if i + 1 < n and script[i + 1] == "'":
                    buf.append("''")
                    i += 2
                    continue
                in_str = False
            buf.append(ch)
        elif ch == "'":
            in_str = True
            buf.append(ch)
        elif ch == ";":
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


_QUERY_VERBS = re.compile(
    r"(?i)^\s*(SELECT|WITH|SHOW|DESC|DESCRIBE)\b"
)


def execute_script(
    spark: SparkSession,
    script: str,
    tables: "dict[str, str] | None" = None,
    catalog=None,
    max_rows: int = 4096,
):
    """Run a ';'-separated SQL script: each statement routes to
    ``execute_query`` (SELECT/WITH/SHOW/DESCRIBE) or ``execute_dml``
    (everything else) against the same tables/catalog scope. Returns
    the LAST statement's result (a DataFrame for a trailing query,
    the commit version for a trailing DML, None for DDL) — the shape a
    setup-then-read script wants. Statements run sequentially and each
    DML commit is durable when it returns, so a failure mid-script
    leaves every completed statement committed (scripts are not a
    transaction; multi-table atomicity lives in ingest/multi_commit)."""
    result = None
    for stmt in _split_statements(script):
        if _QUERY_VERBS.match(stmt):
            result = execute_query(spark, stmt, tables, catalog=catalog)
        else:
            result = execute_dml(
                spark, stmt, tables, max_rows=max_rows, catalog=catalog
            )
    return result
