"""table_serve: one client, closed loop, against a bucketed snapshot table.

Set-up preloads a ``SnapshotTable`` with ``spec=[("bucket", N, "user_id")]``.
The loop then runs a fixed, seeded schedule: Zipf-keyed point reads
``scan([("user_id", "=", k)])`` + collect, interleaved with small
``append`` and merge-on-read ``upsert`` commits (read:write = 25:2) and
a ``compact``, in rounds (``ROUND``). Reads after the upsert pay the
merge-on-read of its equality deletes until the compact folds them in,
so the loop runs whole rounds: every run mixes the table states in the
same proportions. The reads of each stretch between two commits take
their users at stratified Zipf quantiles, so every round reads the same
mix of small and large users. Writes sit beside reads, so a
write-side change that slows reads (more standing equality-delete files,
more manifest entries) shows in the read latency.

Every point read is compared with an in-benchmark model of that user's
rows under the appends and upserts issued so far.
"""

from __future__ import annotations

import json
import time
from contextlib import ExitStack

import numpy as np

from loadgen import LocationLoad
from workloads import Outcome

# One client issues one small query at a time, and its jobs have a few
# tasks each: half the cores serve them, and the rest stay free for the
# driver JVM's and Python's own threads. With every core a task slot,
# reads ran slower and spread wider whenever the shared host was busy.
CPU_SHARE = 0.5
BUCKETS = 16
N_USERS = 500
PRELOAD_ROWS = 20000
WARM_PRELOAD_ROWS = 2000  # the warm round runs every code path, on less data
APPEND_ROWS = 100
UPSERT_ROWS = 50  # 4/5 replace existing rows, 1/5 are new
# A round: 10 reads, append, 10 reads, upsert, 5 merge-on-read reads,
# compact, ~5 s on 4 cores. A fifth of the reads pay merge-on-read: the
# p50 falls inside the plain reads, and their cost shows in ops/s.
ROUND = (("read", 10), ("append", 1), ("read", 10), ("upsert", 1),
         ("read", 5), ("compact", 1))

COLUMNS = ("accuracy", "altitude", "altitudeAccuracy", "course", "features",
           "latitude", "longitude", "speed", "source", "timestamp", "user_id")
_FEATURES = (("gps",), ("gps", "wifi"), ("wifi",), ("gps", "cell"))


class Model:
    """The table's expected contents: user -> timestamp -> row tuple."""

    def __init__(self, load: LocationLoad):
        self.load = load
        self.rows: dict[str, dict[int, tuple]] = {}
        self.next_file = 0

    def new_rows(self, n: int, rng) -> list[tuple]:
        """``n`` rows with keys (user_id, timestamp) the table never had."""
        c = self.load.columns(self.next_file)
        self.next_file += 1
        return [
            (
                float(c["acc"][i]), None, None, None,
                list(_FEATURES[int(c["feat"][i])]),
                round(float(rng.uniform(-60, 60)), 6),
                round(float(rng.uniform(-180, 180)), 6),
                None if c["speed_null"][i] else float(c["speed"][i]),
                "device",
                int(c["ts"][i]),
                self.load.users[int(c["uidx"][i])],
            )
            for i in range(n)
        ]

    def upsert_rows(self, n: int, rng) -> list[tuple]:
        """4/5 of ``n`` rows overwrite existing keys (one row per key),
        the rest are new."""
        rows = self.new_rows(n, rng)
        n_replace = n * 4 // 5
        users = [u for u in self.rows if self.rows[u]]
        out, seen = [], set()
        for r in rows[:n_replace]:
            u = users[int(rng.integers(len(users)))]
            ts = list(self.rows[u])[int(rng.integers(len(self.rows[u])))]
            if (u, ts) not in seen:
                seen.add((u, ts))
                out.append(r[:9] + (ts, u))
        return out + rows[n_replace:]

    def apply(self, rows: list[tuple]) -> None:
        for r in rows:
            self.rows.setdefault(r[10], {})[r[9]] = r

    def expect(self, user: str) -> list[tuple]:
        return sorted(_key(r) for r in self.rows.get(user, {}).values())


def _key(r) -> tuple:
    return tuple(tuple(v) if isinstance(v, list) else v for v in r)


class Client:
    def __init__(self, ctx, load: LocationLoad, preload: int = PRELOAD_ROWS):
        from iceberg_file_writer_spark.schemas import LOCATION_SCHEMA
        from iceberg_file_writer_spark.table_api import SnapshotTable

        self.ctx = ctx
        self.load = load
        self.schema = LOCATION_SCHEMA
        self.model = Model(load)
        self.rng = np.random.default_rng([ctx.seed, 7])
        self.path = ctx.fresh_dir("table")
        rows = []
        while len(rows) < preload:
            rows += self.model.new_rows(load.rows_per_file, self.rng)
        self.table = SnapshotTable.create(
            ctx.spark, self.path, self._df(rows),
            spec=[("bucket", BUCKETS, "user_id")],
        )
        self.model.apply(rows)
        self.read_ms: list[float] = []
        self.errors: list[str] = []
        self.kept = self.total = self.last_total = 0
        self.ops = 0
        self.peak: dict[str, float] = {}  # table state before a compact

    def _df(self, rows):
        return self.ctx.spark.createDataFrame(rows, self.schema)

    def _zipf_users(self, n: int) -> list[str]:
        """``n`` users at stratified Zipf quantiles, in seeded order."""
        q = (np.arange(n) + self.rng.random(n)) / n
        cdf = self.load._cdf
        i = np.searchsorted(cdf, self.rng.permutation(q) * cdf[-1])
        return [self.load.users[min(int(k), self.load.n_users - 1)] for k in i]

    def read(self, user: str) -> None:
        from iceberg_file_writer_spark.ingest.partitioning import (
            scan_partitioned,
        )

        tr = self.ctx.tracer
        conj = [("user_id", "=", user)]
        op = self.ops
        t0 = time.perf_counter()
        with tr.span("table_api.point_read", op):
            with tr.span("table_api.scan_plan"):
                df = self.table.scan(conj)
            with tr.span("table_api.scan_exec"):
                got = df.collect()
        self.read_ms.append((time.perf_counter() - t0) * 1e3)
        kept, total = scan_partitioned.last_files
        self.kept += kept
        self.total += total
        self.last_total = total
        rows = sorted(_key(tuple(r[c] for c in COLUMNS)) for r in got)
        if rows != self.model.expect(user):
            self.errors.append(
                f"op {op}: read of {user} returned {len(rows)} rows, "
                f"model has {len(self.model.expect(user))}"
            )

    def write(self, kind: str) -> None:
        tr = self.ctx.tracer
        if kind == "append":
            rows = self.model.new_rows(APPEND_ROWS, self.rng)
        else:
            rows = self.model.upsert_rows(UPSERT_ROWS, self.rng)
        df = self._df(rows)
        with tr.span(f"table_api.{kind}", self.ops):
            if kind == "append":
                self.table.append(df)
            else:
                self.table.upsert(df, keys=["user_id", "timestamp"])
        self.model.apply(rows)

    def compact(self) -> None:
        tr = self.ctx.tracer
        if tr.enabled:
            from iceberg_file_writer_spark.ingest import snapshots
            from iceberg_file_writer_spark.ingest.equality_deletes import (
                eq_stats,
            )

            v = self.table.version()
            self.peak = {
                # the manifest the round's last read planned over
                "ingest.snapshots.manifest_files": self.last_total,
                "ingest.equality_deletes.eq_files":
                    eq_stats(self.path, v)["n_eq_files"],
                "ingest.snapshots.manifest_bytes": len(json.dumps(
                    snapshots.read_manifest_layout(self.path, v)
                )),
            }
        with tr.span("ingest.snapshots.compact", self.ops):
            self.table.compact()

    def round(self) -> None:
        for kind, n in ROUND:
            if kind == "read":
                for user in self._zipf_users(n):
                    self.read(user)
                    self.ops += 1
                continue
            if kind == "compact":
                self.compact()
            else:
                self.write(kind)
            self.ops += 1


def warm(ctx) -> None:
    client = Client(ctx, LocationLoad(ctx.seed + 7919, rows_per_file=1000,
                                      n_users=N_USERS), WARM_PRELOAD_ROWS)
    client.round()


def setup(ctx):
    client = Client(ctx, LocationLoad(ctx.seed, rows_per_file=1000,
                                      n_users=N_USERS))
    # the loop's steady state: the layout a compact leaves, planned once
    client.compact()
    client.read(client._zipf_users(1)[0])
    return client


def measure(ctx, client) -> Outcome:
    from iceberg_file_writer_spark.ingest import file_skipping, snapshots

    client.read_ms.clear()
    client.kept = client.total = 0
    start_ops = client.ops
    parses0 = snapshots.read_manifest_parses
    tr = ctx.tracer
    with ExitStack() as shims:
        if tr.enabled:
            # time the planning calls the program itself makes
            shims.enter_context(tr.wrap(
                snapshots, "read_manifest", "ingest.snapshots.read_manifest"))
            shims.enter_context(tr.wrap(
                file_skipping, "prune_files", "ingest.file_skipping.prune"))
        t0 = time.perf_counter()
        deadline = t0 + ctx.seconds
        while time.perf_counter() < deadline:
            client.round()
        wall = time.perf_counter() - t0
    ops = client.ops - start_ops

    layers = {}
    if tr.enabled:
        plan = "table_api.scan_plan"
        layers = {
            "ingest.snapshots.read_manifest_ms_p50":
                tr.p50_ms("ingest.snapshots.read_manifest", under=plan),
            "ingest.file_skipping.prune_ms_p50":
                tr.p50_ms("ingest.file_skipping.prune", under=plan),
            "ingest.file_skipping.files_kept_ratio":
                client.kept / client.total if client.total else 0.0,
            "table_api.scan_plan_ms_p50": tr.p50_ms(plan),
            "table_api.scan_exec_ms_p50": tr.p50_ms("table_api.scan_exec"),
            "ingest.snapshots.manifest_parse_ratio":
                (snapshots.read_manifest_parses - parses0)
                / len(tr.durations_ms("ingest.snapshots.read_manifest")),
            **client.peak,
            "ingest.snapshots.compact_ms_p50":
                tr.p50_ms("ingest.snapshots.compact"),
            "table_api.append_ms_p50": tr.p50_ms("table_api.append"),
            "table_api.upsert_ms_p50": tr.p50_ms("table_api.upsert"),
        }
    return Outcome(
        latencies_ms=list(client.read_ms),
        throughput=ops / wall,
        attempted=ops,
        failed=len(client.errors),
        errors=client.errors,
        layers=layers,
        detail={"reads": len(client.read_ms)},
    )
