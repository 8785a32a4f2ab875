"""Hidden partitioning: transform specs, bucket pruning [extension].

Iceberg's insight: users query RAW columns; the table silently
maintains a partition layout derived from transforms of them, and the
scanner maps raw predicates onto the layout. Here the layout is
manifest-stats file skipping: the one scan planner
(``file_skipping.scan_table``; ``scan_partitioned`` is its old name)
reads the spec from the manifest and prunes a spec'd table exactly as
a plain one, with ``bucket_conjuncts`` added to the conjuncts. So:

- **time transforms** (day/month of a timestamp) need NO hidden
  column at all: clustering by the transform makes each file's RAW
  min/max tight, and a raw ``ts >= X`` predicate prunes directly —
  the transform's only job is the write-side clustering.
- **bucket transforms** add pruning power range stats cannot give: a
  point lookup on a high-cardinality key that the sort order does not
  cover. The writer materializes a hidden ``_b<n>_<col>`` column
  (md5-derived bucket id — bit-identical in Spark SQL and Python, so
  the scanner computes the literal's bucket driver-side) and clusters
  by it; the scanner augments ``col = v`` with ``_b<n>_<col> =
  bucket(v)``, which the per-file stats then prune on.

The spec rides in the manifest (``"spec"``), so scans self-configure
and the spec can EVOLVE: the bucket COUNT is part of the hidden
column's name, so files written under an old spec (no spec, or a
different bucket count for the same column) simply lack the current
hidden column's stats and survive pruning conservatively —
correctness never depends on layout, only scan cost does. (A single
shared ``_b_<col>`` name would silently trust stats computed under
the OLD modulus and drop files that still hold matching rows.)

- **z-order transforms** cluster by a Morton code over SEVERAL columns
  at once: every z-ordered column's raw per-file min/max stays tight,
  so range predicates on ANY of them (alone or boxed together) prune —
  where a plain sort order only serves its leading column. Like the
  time transforms, the z-value is a write-side clustering key only;
  no hidden column is stored.

At 100 TB: a day+bucket spec turns full-corpus point lookups into
O(files-per-day / n_buckets) reads with zero layout knowledge in
queries.

Reference scope note: the reference (/root/reference/main.go:47-54)
partitions by a literal column value only; this derives the
transform-based layout above that write path. [extension]
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# one planner serves every layout (plain, spec'd, column-mapped); the
# old name stays for its callers
from iceberg_file_writer_spark.ingest.file_skipping import (
    scan_table as scan_partitioned,  # noqa: F401
)

# spec entry forms: ("day", col) | ("month", col) | ("bucket", n, col)
#                 | ("zorder", [col, ...])


def _bucket_expr(col: str, n: int):
    """md5-based bucket id — replayable in Python for literals."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(n),
    )


def bucket_of(value, n: int) -> int:
    """The driver-side twin of ``_bucket_expr`` for a literal."""
    digest = hashlib.md5(str(value).encode()).hexdigest()[:15]
    return int(digest, 16) % n


def _zorder_expr(df: DataFrame, cols: "list[str]", bits: int = 16):
    """Z-value (Morton code) of ``cols``: each column min-max-normalized
    to ``bits`` bits, then bit-interleaved — rows close in EVERY
    dimension get close z-values, so range-clustering by the z-value
    makes per-file raw min/max tight in ALL dimensions at once (the
    Delta OPTIMIZE ZORDER / Iceberg sort-order trick). The whole thing
    is one JVM-side expression (no UDF); the only driver work is a
    single min/max aggregate over the batch.

    Normalization is linear; heavily skewed columns would want quantile
    (rank) normalization instead — at 100 TB that is an approxQuantile
    pass feeding width-bucket boundaries, same interleave after."""
    stats = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).first()
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        lo = float(stats[f"lo_{c}"])
        hi = float(stats[f"hi_{c}"])
        span = (hi - lo) or 1.0
        scaled.append(
            f"CAST(LEAST({top}, GREATEST(0, "
            f"FLOOR((CAST(`{c}` AS DOUBLE) - {lo!r}) / {span!r} * {top})"
            f")) AS BIGINT)"
        )
    shifts = " | ".join(
        f"(((__zc{j}__ >> i) & 1) << (i * {len(cols)} + {j}))"
        for j in range(len(cols))
    )
    lam = f"(acc, i) -> acc | {shifts}"
    body = f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), {lam})"
    for j, s in enumerate(scaled):
        body = body.replace(f"__zc{j}__", f"({s})")
    return F.expr(body)


def _bucket_col_name(col: str, n: int) -> str:
    """Hidden bucket column name. The modulus is part of the name so a
    spec evolution that re-buckets the same column can never read stats
    written under a different bucket count."""
    return f"_b{n}_{col}"


def _is_hidden(name: str) -> bool:
    """Hidden bucket columns of ANY spec epoch (``_b<n>_<col>``) — old
    epochs' columns still live in old data files and surface under
    mergeSchema, so scans drop by shape, not by the current spec."""
    if not name.startswith("_b"):
        return False
    digits = name[2:].split("_", 1)[0]
    return bool(digits) and digits.isdigit() and "_" in name[2:]


def reject_reserved_names(names) -> None:
    """Refuse user schemas that claim the hidden layout namespace
    (``_b<n>_<suffix>``): ``_read_files`` drops such columns centrally
    from every read surface, so a user column named e.g. ``_b2_x``
    would otherwise be written and then SILENTLY vanish from query
    results (r12 ADVICE) — enforce the reservation loudly at write/DDL
    time instead."""
    bad = sorted(n for n in names if _is_hidden(n))
    if bad:
        raise ValueError(
            f"column name(s) {bad} collide with the reserved hidden "
            "layout namespace (_b<n>_...); rename them"
        )


def _mapped_bucket_col_name(fid: int, n: int) -> str:
    """Hidden bucket column name on COLUMN-MAPPED tables: keyed by
    FIELD ID, not name, so a rename of the raw column never orphans
    the stats already written under the hidden column (the modulus
    stays in the name for the same spec-evolution reason as
    ``_bucket_col_name``)."""
    return f"_b{n}_f{fid}"


def resolve_spec_ids(spec: list, columns: list) -> list:
    """A field-id-keyed spec (the mapped-table form: transforms name
    source columns by FIELD ID so they survive renames) resolved to
    the NAME-keyed form ``apply_spec`` consumes, under one evolution
    epoch's ``columns`` [[id, name, type], ...]. Raises when a spec'd
    id was dropped from the schema."""
    id2n = {cid: name for cid, name, _t in columns}

    def _n(fid):
        if fid not in id2n:
            raise ValueError(
                f"partition spec references dropped field id {fid}; "
                "SET PARTITION SPEC without it first"
            )
        return id2n[fid]

    out = []
    for tr in spec:
        if tr[0] in ("day", "month", "year", "hour"):
            out.append([tr[0], _n(tr[1])])
        elif tr[0] == "truncate":
            out.append(["truncate", tr[1], _n(tr[2])])
        elif tr[0] == "bucket":
            out.append(["bucket", tr[1], _n(tr[2])])
        elif tr[0] == "zorder":
            out.append(["zorder", [_n(c) for c in tr[1]]])
        else:
            raise ValueError(f"unknown transform: {tr[0]}")
    return out


def spec_source_ids(spec: list) -> set:
    """Every field id an id-keyed spec's transforms source from —
    the set a schema evolution must keep alive (dropping one bricks
    every write verb at ``resolve_spec_ids`` time)."""
    ids: set = set()
    for tr in spec or []:
        if tr[0] in ("day", "month", "year", "hour"):
            ids.add(tr[1])
        elif tr[0] in ("truncate", "bucket"):
            ids.add(tr[2])
        elif tr[0] == "zorder":
            ids.update(tr[1])
    return ids


def spec_names_to_ids(spec: list, columns: list) -> list:
    """The inverse of ``resolve_spec_ids``: a user-facing NAME-keyed
    spec pinned to FIELD IDS at DDL time — the durable manifest form
    for mapped tables (renames can never detach the layout)."""
    n2id = {name: cid for cid, name, _t in columns}

    def _i(name):
        if name not in n2id:
            raise ValueError(f"partition spec names unknown column {name!r}")
        return n2id[name]

    out = []
    for tr in spec:
        if tr[0] in ("day", "month", "year", "hour"):
            out.append([tr[0], _i(tr[1])])
        elif tr[0] == "truncate":
            out.append(["truncate", tr[1], _i(tr[2])])
        elif tr[0] == "bucket":
            out.append(["bucket", tr[1], _i(tr[2])])
        elif tr[0] == "zorder":
            out.append(["zorder", [_i(c) for c in tr[1]]])
        else:
            raise ValueError(f"unknown transform: {tr[0]}")
    return out


def apply_spec_mapped(df: DataFrame, spec: list, columns: list) -> DataFrame:
    """Cluster a mapped-table batch along a FIELD-ID-keyed spec: resolve
    ids to the current epoch's names, cluster exactly as ``apply_spec``,
    then re-key the hidden bucket columns by field id (rename-proof
    physical names — the whole point of the mapped flavor)."""
    named = resolve_spec_ids(spec, columns)
    work = apply_spec(df, named)
    id2n = {cid: name for cid, name, _t in columns}
    for tr in spec:
        if tr[0] == "bucket":
            work = work.withColumnRenamed(
                _bucket_col_name(id2n[tr[2]], tr[1]),
                _mapped_bucket_col_name(tr[2], tr[1]),
            )
    return work


def apply_spec(df: DataFrame, spec: list) -> DataFrame:
    """Cluster a batch along a transform spec: materialize the cluster
    keys, range-partition + sort by them, keep only the hidden bucket
    columns (their stats carry pruning signal; time and z-order keys
    serve raw stats and are dropped). Used by EVERY write to a spec'd
    table — ``commit_append``/``commit_compact``/the streaming sink
    apply the table's standing spec so layout never silently decays
    when a writer uses the plain verbs (Iceberg's contract: the spec
    belongs to the table, not to one writer)."""
    work = df
    cluster = []
    for tr in spec:
        if tr[0] == "day":
            c = f"_d_{tr[1]}"
            work = work.withColumn(c, F.date_format(tr[1], "yyyy-MM-dd"))
        elif tr[0] == "month":
            c = f"_m_{tr[1]}"
            work = work.withColumn(c, F.date_format(tr[1], "yyyy-MM"))
        elif tr[0] == "year":
            c = f"_y_{tr[1]}"
            work = work.withColumn(c, F.date_format(tr[1], "yyyy"))
        elif tr[0] == "hour":
            c = f"_h_{tr[1]}"
            work = work.withColumn(c, F.date_format(tr[1], "yyyy-MM-dd-HH"))
        elif tr[0] == "truncate":
            # ("truncate", width, col): string -> width-char prefix,
            # numeric -> floor to a width multiple. Both are ORDER-
            # PRESERVING, so the raw column's file stats stay tight and
            # prune range/equality predicates — no hidden column needed
            # (Iceberg's truncate transform contract).
            width, col = tr[1], tr[2]
            c = f"_t{width}_{col}"
            if dict(work.dtypes).get(col) == "string":
                key = F.substring(F.col(col), 1, width)
            else:
                # pmod, not %: Spark's % takes the dividend's sign, so
                # col - (col % w) rounds negatives toward zero (a
                # double-wide bucket at 0); floor semantics = Iceberg's
                key = F.col(col) - F.pmod(F.col(col), F.lit(width))
            work = work.withColumn(c, key)
        elif tr[0] == "bucket":
            c = _bucket_col_name(tr[2], tr[1])
            work = work.withColumn(c, _bucket_expr(tr[2], tr[1]))
        elif tr[0] == "zorder":
            zcols = list(tr[1])
            c = "_z_" + "_".join(zcols)
            work = work.withColumn(c, _zorder_expr(df, zcols))
        else:
            raise ValueError(f"unknown transform: {tr[0]}")
        cluster.append(c)
    keep_hidden = [c for c in cluster if _is_hidden(c)]
    # explicit partition count: without it AQE's coalescing merges small
    # range partitions, silently undoing the clustering (one file then
    # spans many transform values and its stats carry no pruning signal).
    # Pinning the count keeps range boundaries ON key values — a file
    # can only straddle when maxRecordsPerFile splits mid-partition,
    # which per-value sorting confines to range edges. This mirrors
    # Iceberg's write.distribution-mode=range fanout contract.
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        work.repartitionByRange(n, *[F.col(c) for c in cluster])
        .sortWithinPartitions(*cluster)
        .drop(*[c for c in cluster if c not in keep_hidden])
    )


def commit_append_partitioned(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    spec: list,
    max_rows: int = 4096,
) -> int:
    """Append under a hidden-partition spec: rows cluster by the
    transforms (files align with transform values, making their stats
    tight), hidden bucket columns are materialized, and the spec is
    recorded in the manifest."""
    from iceberg_file_writer_spark.ingest.snapshots import (
        _commit,
        _write_data_files,
        current_version,
        read_manifest,
    )

    work = apply_spec(df, spec)
    parent = current_version(table_path)
    prev = read_manifest(table_path, parent)["files"] if parent else []
    files = _write_data_files(work, table_path, max_rows)
    return _commit(
        table_path, parent, "append", prev + files, extra={"spec": spec}
    )


def bucket_probe_safe(value) -> bool:
    """Whether ``bucket_of(value)`` hashes the string Spark's
    ``CAST(col AS STRING)`` gives for that value. Python and Java render
    only ints and strings alike (``str(1e7)`` is '10000000.0', Java's
    is '1.0E7'), so only those literals may probe a bucket column — the
    rule ``bloom_index._probe_safe`` applies to bloom probes."""
    return isinstance(value, (int, str)) and not isinstance(value, bool)


def bucket_conjuncts(conjuncts: list, spec: list) -> list:
    """The hidden-column probes a NAME-keyed spec's bucket transforms add
    to ``conjuncts``: ``col = v`` gains ``_b<n>_col = bucket(v)`` and
    ``col IN (...)`` gains ``_b<n>_col IN (member buckets)`` (NULL
    members never match — dropped). A literal ``bucket_probe_safe``
    rejects adds no probe (for IN: any such member), since a wrong
    bucket id would skip the file holding the row. The scan planner and
    the ``snapshot_table`` format's pushFilters both prune on
    ``conjuncts + bucket_conjuncts(conjuncts, spec)``."""
    buckets = {tr[2]: tr[1] for tr in spec or [] if tr[0] == "bucket"}
    out = []
    for col, op, *rest in conjuncts:
        n = buckets.get(col)
        if n is None or not rest:
            continue
        if op == "=" and bucket_probe_safe(rest[0]):
            out.append(
                (_bucket_col_name(col, n), "=", bucket_of(rest[0], n))
            )
        elif op == "in":
            members = [v for v in rest[0] or [] if v is not None]
            if all(bucket_probe_safe(v) for v in members):
                ids = sorted({bucket_of(v, n) for v in members})
                out.append((_bucket_col_name(col, n), "in", ids))
    return out


def commit_respec(table_path: str, spec: list) -> int:
    """Metadata-only partition-spec evolution — Iceberg's ``ALTER TABLE
    ... SET PARTITION SPEC``. No file moves or rewrites: the new spec
    rides the manifest, so every subsequent write (plain verbs included,
    via ``_apply_standing_spec``) clusters by it, and the next
    ``commit_compact`` re-clusters the standing data. Files written
    under older specs simply lack the new hidden columns' stats and
    survive pruning conservatively — correctness never depends on
    layout, only scan cost does (the bucket-count-in-name rule keeps a
    re-bucketed column from trusting stale stats).
    """
    from iceberg_file_writer_spark.ingest.snapshots import (
        _commit,
        current_version,
        read_manifest,
    )

    for tr in spec:
        if tr[0] not in (
            "day", "month", "year", "hour", "truncate", "bucket", "zorder",
        ):
            raise ValueError(f"unknown transform: {tr[0]}")
    parent = current_version(table_path)
    m = read_manifest(table_path, parent) if parent else {}
    return _commit(
        table_path, parent, "respec", m.get("files") or [], extra={"spec": spec}
    )
