"""stream_ingest: the reference pipeline as an open loop.

A generator thread drops Location JSON-lines files into the input
directory at a fixed rate, regardless of how the stream keeps up.
``ingest.streaming.read_stream`` + ``start_ingest_stream(trigger_seconds=0)``
ingest them: each micro-batch takes what landed while the previous one
ran. A file's freshness runs from when it was due (not when it landed,
so generator stalls count) until the micro-batch holding it committed.
Which batch holds a file comes from the epoch-prefixed output names and
the decoded record timestamps; when a batch committed comes from
Spark's public progress events.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from datetime import datetime, timezone

from checks import check_table
from loadgen import LocationLoad
from tracing import percentile
from workloads import Outcome

# Offered load: 10 files/s of 400 rows = 4000 rows/s, about 45% of the
# backlogged throughput measured at 300 users (~9k rows/s on 4 cores).
RATE_FILES_PER_S = 10.0
ROWS_PER_FILE = 400
# Each epoch writes one file per user present, and that per-file cost
# dominates an epoch: 2000 users make epochs of ~5 s (2-3 per run), 300
# users ~2 s, so a run sees enough epochs to spread its samples.
N_USERS = 300
WARM_SECONDS = 6  # ~3 epochs, ~900 output files


def _write_atomically(path: str, data: bytes) -> None:
    # the file source ignores dot-files, so the rename is the landing
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def _run_stream(ctx, files: list[bytes]):
    """Start the query, feed ``files`` on schedule, drain, stop.

    Returns (due, landed, progress, out_dir) with wall-clock seconds."""
    from iceberg_file_writer_spark.ingest.streaming import (
        drain_and_stop,
        read_stream,
        start_ingest_stream,
    )

    in_dir, out_dir, ckpt = (ctx.fresh_dir(t) for t in ("in", "out", "ckpt"))
    os.makedirs(in_dir)
    query = start_ingest_stream(
        read_stream(ctx.spark, in_dir), out_dir, ckpt, trigger_seconds=0
    )
    due = [0.0] * len(files)
    landed = [0.0] * len(files)

    def feed():
        t0 = time.time() + 0.2
        for k, data in enumerate(files):
            due[k] = t0 + k / RATE_FILES_PER_S
            pause = due[k] - time.time()
            if pause > 0:
                time.sleep(pause)
            _write_atomically(os.path.join(in_dir, f"part-{k:06d}.json"), data)
            landed[k] = time.time()

    gen = threading.Thread(target=feed, name="loadgen", daemon=True)
    gen.start()
    try:
        gen.join()
    finally:
        drain_and_stop(query)
    return due, landed, query.recentProgress, out_dir


def _parse_ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _files(seed: int, seconds: float) -> tuple[LocationLoad, list[bytes]]:
    load = LocationLoad(seed, rows_per_file=ROWS_PER_FILE, n_users=N_USERS)
    n = max(1, int(RATE_FILES_PER_S * seconds))
    return load, [load.file_bytes(k) for k in range(n)]


def warm(ctx) -> None:
    # progress events are the commit clock: keep every one of them
    ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    _run_stream(ctx, _files(ctx.seed + 7919, WARM_SECONDS)[1])


def setup(ctx):
    return _files(ctx.seed, ctx.seconds)


def measure(ctx, state) -> Outcome:
    load, files = state
    tr = ctx.tracer
    with tr.span("stream_ingest.run"):
        due, landed, progress, out_dir = _run_stream(ctx, files)

    batches = {}  # batch id -> (start, end) wall seconds
    perf_off = time.perf_counter() - time.time()
    for p in progress:
        if not p.numInputRows:
            continue
        d = p.durationMs
        start = _parse_ts(p.timestamp)
        end = start + d.get("triggerExecution", 0) / 1e3
        batches[p.batchId] = (start, end)
        # Spark's own phase timings, recorded as spans of the batch
        tr.add("ingest.streaming.epoch", start + perf_off,
               start + perf_off + d.get("addBatch", 0) / 1e3, op=p.batchId)
        tr.add("sources.file.offset", start + perf_off, start + perf_off
               + (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3,
               op=p.batchId)
        tr.add("checkpoint.wal", start + perf_off, start + perf_off
               + (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
               op=p.batchId)

    scan = check_table(out_dir, load, range(len(files)))
    errors = list(scan.errors)
    batch_of = {}
    for ep, (_, _, ks) in scan.epochs.items():
        for k in ks:
            if k in batch_of:
                errors.append(f"input file {k} split across epochs")
            batch_of[k] = ep
    fresh, waits, missing = [], [], 0
    for k in range(len(files)):
        b = batches.get(batch_of.get(k))
        if b is None:
            missing += 1
            continue
        fresh.append((b[1] - due[k]) * 1e3)
        waits.append((b[0] - due[k]) * 1e3)
    if not fresh:
        raise RuntimeError("no input file was committed")
    ends = [batches[b][1] for b in set(batch_of.values()) if b in batches]
    throughput = scan.rows / (max(ends) - due[0])

    layers = {}
    if tr.enabled:
        per_epoch = list(scan.epochs.values())
        layers = {
            "ingest.streaming.epoch_ms_p50": tr.p50_ms("ingest.streaming.epoch"),
            "sources.file.offset_ms_p50": tr.p50_ms("sources.file.offset"),
            "checkpoint.wal_ms_p50": tr.p50_ms("checkpoint.wal"),
            "stream.queue_wait_ms_p50": statistics.median(waits),
            "ingest.streaming.epochs": len(batches),
            "ingest.streaming.rows_per_epoch_p50":
                statistics.median(e[0] for e in per_epoch),
            "ingest.streaming.files_per_epoch_p50":
                statistics.median(e[1] for e in per_epoch),
            "gen.late_ms_max": max(
                (landed[k] - due[k]) * 1e3 for k in range(len(files))
            ),
        }
    return Outcome(
        latencies_ms=fresh,
        throughput=throughput,
        attempted=len(files),
        # a table that fails its check fails every file in it
        failed=len(files) if errors else missing,
        errors=errors,
        layers=layers,
        detail={"freshness_ms_p95": percentile(fresh, 95),
                "stream_rows": scan.rows, "output_files": scan.files},
    )
