"""bulk_ingest: repeated batch loads of one large generated input.

Each operation is ``ingest.batch.read_source`` + ``ingest_batch`` of the
whole input into a fresh table directory, so the shuffle, sort and
parquet write of ``apply_layout`` dominate and no per-epoch or snapshot
cost applies. The hot user holds more than 4096 rows, which exercises
the ``maxRecordsPerFile`` split. A closed loop: the next load starts when
the previous one returns.
"""

from __future__ import annotations

import os
import time

from checks import check_table
from loadgen import LocationLoad
from workloads import Outcome

N_FILES = 16
ROWS_PER_FILE = 5000
N_USERS = 100
HOT_SHARE = 0.1  # 8000 rows: two files past the 4096-row bound
WARM_LOADS = 4
LAYER_REPS = 3


def _load(ctx, in_dir: str) -> tuple[str, dict]:
    from iceberg_file_writer_spark.ingest.batch import ingest_batch, read_source

    out = ctx.fresh_dir("bulk-out")
    with ctx.tracer.span("ingest.batch.ingest"):
        stats = ingest_batch(read_source(ctx.spark, in_dir), out)
    return out, stats


def _input(ctx, seed: int) -> tuple[LocationLoad, str]:
    load = LocationLoad(
        seed, rows_per_file=ROWS_PER_FILE, n_users=N_USERS, hot_share=HOT_SHARE
    )
    in_dir = ctx.fresh_dir("bulk-in")
    os.makedirs(in_dir)
    for k in range(N_FILES):
        with open(os.path.join(in_dir, f"part-{k:04d}.json"), "wb") as f:
            f.write(load.file_bytes(k))
    return load, in_dir


def warm(ctx) -> None:
    _, in_dir = _input(ctx, ctx.seed + 7919)
    for _ in range(WARM_LOADS):
        _load(ctx, in_dir)


def setup(ctx):
    return _input(ctx, ctx.seed)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _layer_seconds(ctx, in_dir: str) -> dict[str, float]:
    """Traced run only: the read and layout stages on their own, each to
    a noop sink, so ``write_s`` = one ingest minus ``layout_s``."""
    from iceberg_file_writer_spark.ingest.batch import (
        IngestConfig,
        apply_layout,
        normalize_defaults,
        read_source,
    )

    tr = ctx.tracer
    for _ in range(LAYER_REPS):
        with tr.span("ingest.batch.read"):
            _noop(read_source(ctx.spark, in_dir))
        with tr.span("ingest.batch.layout"):
            _noop(apply_layout(
                normalize_defaults(read_source(ctx.spark, in_dir)), IngestConfig()
            ))
    read_s = tr.p50_ms("ingest.batch.read") / 1e3
    layout_s = tr.p50_ms("ingest.batch.layout") / 1e3
    ingest_s = tr.p50_ms("ingest.batch.ingest") / 1e3
    return {
        "ingest.batch.read_s": read_s,
        "ingest.batch.layout_s": layout_s,
        "ingest.batch.write_s": ingest_s - layout_s,
    }


def measure(ctx, state) -> Outcome:
    load, in_dir = state
    rows_in = N_FILES * ROWS_PER_FILE
    lat, outs = [], []
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline:
        t0 = time.perf_counter()
        out, stats = _load(ctx, in_dir)
        lat.append((time.perf_counter() - t0) * 1e3)
        outs.append((out, stats))

    failed, errors, scan = 0, [], None
    for out, stats in outs:
        scan = check_table(out, load, range(N_FILES))
        errs = list(scan.errors)
        if stats.get("rows_written") != rows_in:
            errs.append(f"observed rows_written {stats.get('rows_written')}")
        failed += bool(errs)
        errors += errs
    layers = {}
    if ctx.tracer.enabled:
        layers = _layer_seconds(ctx, in_dir)
        layers.update({
            "ingest.batch.files_written": scan.files,
            "ingest.batch.rows_per_file_max": scan.rows_per_file_max,
            "ingest.batch.partitions": scan.partitions,
            "ingest.batch.bytes_per_row": scan.bytes / scan.rows,
        })
    return Outcome(
        latencies_ms=lat,
        throughput=rows_in * len(lat) / (sum(lat) / 1e3),
        attempted=len(lat),
        failed=failed,
        errors=errors,
        layers=layers,
        detail={"rows_per_load": rows_in},
    )
