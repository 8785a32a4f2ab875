"""Output checks for the ingest workloads, read straight from the files.

The table is read with pyarrow, not Spark, so the check shares no code
with the writer it checks and costs no Spark job. It verifies the
reference pipeline's layout contract:

- every input record is in the table exactly once (per-user row count
  and timestamp sum match the generator, all timestamps distinct);
- every row sits under its own ``user_id=`` directory (the per-user
  totals are computed from the directory names);
- no file holds more than ``MAX_ROWS`` rows (the writer's block bound);
- rows are sorted by ``timestamp`` within each file.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from loadgen import T0_MS, LocationLoad

MAX_ROWS = 4096
_EPOCH_FILE = re.compile(r"^epoch-(?:[0-9a-f]+-)?(\d{10})-\d+\.")


@dataclass
class TableScan:
    files: int = 0
    rows: int = 0
    bytes: int = 0
    rows_per_file_max: int = 0
    partitions: int = 0
    errors: list[str] = field(default_factory=list)
    # stream tables only: epoch id -> (rows, files, input file ids)
    epochs: dict[int, list] = field(default_factory=dict)


def check_table(root: str, load: LocationLoad, inputs: range) -> TableScan:
    out = TableScan()
    got: dict[str, list[int]] = {}
    all_ts = []
    for part in sorted(os.listdir(root)):
        if not part.startswith("user_id="):
            continue
        user = part[len("user_id="):]
        out.partitions += 1
        acc = got.setdefault(user, [0, 0])
        pdir = os.path.join(root, part)
        for name in sorted(os.listdir(pdir)):
            if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                continue
            path = os.path.join(pdir, name)
            ts = pq.ParquetFile(path).read(columns=["timestamp"]).column(0)
            ts = ts.to_numpy()
            out.files += 1
            out.rows += len(ts)
            out.bytes += os.path.getsize(path)
            out.rows_per_file_max = max(out.rows_per_file_max, len(ts))
            if len(ts) > MAX_ROWS:
                out.errors.append(f"{path}: {len(ts)} rows > {MAX_ROWS}")
            if len(ts) > 1 and np.any(np.diff(ts) < 0):
                out.errors.append(f"{path}: not sorted by timestamp")
            acc[0] += len(ts)
            acc[1] += int((ts - T0_MS).sum())
            all_ts.append(ts)
            m = _EPOCH_FILE.match(name)
            if m:
                ep = out.epochs.setdefault(int(m.group(1)), [0, 0, set()])
                ep[0] += len(ts)
                ep[1] += 1
                ep[2].update(
                    np.unique(load.seq_of(ts) // load.rows_per_file).tolist()
                )
    want = load.expected(inputs)
    if {u: tuple(v) for u, v in got.items()} != want:
        bad = sorted(u for u in set(got) | set(want)
                     if tuple(got.get(u, (0, 0))) != want.get(u, (0, 0)))
        out.errors.append(f"per-user rows differ from input for {bad[:5]}")
    if all_ts:
        n_unique = len(np.unique(np.concatenate(all_ts)))
        if n_unique != out.rows:
            out.errors.append(f"{out.rows - n_unique} duplicate records")
    return out
