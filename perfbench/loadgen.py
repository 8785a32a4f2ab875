"""Seeded Location load generator shared by the benchmark workloads.

Emits the reference pipeline's record shape (``schemas.LOCATION_SCHEMA``)
as JSON-lines files of a fixed row count. The properties the pipeline's
behaviour depends on are parameters:

- ``user_id`` follows a Zipf law (exponent ``ZIPF_S``) over ``n_users``
  users, plus one hot user carrying ``hot_share`` of all rows (the
  ``maxRecordsPerFile`` split path once it passes 4096 rows in one write);
- ``LATE_FRAC`` of the records carry an out-of-order timestamp, older
  than records that arrive before them.

Every record's ``timestamp`` is unique and decodes back to the record's
sequence number (:meth:`LocationLoad.seq_of`), so a reader of the
ingested table can tell which input file each row came from and check
that every record landed exactly once. File ``k`` holds sequence
numbers ``[k * rows_per_file, (k + 1) * rows_per_file)`` and depends only
on ``(seed, k)``: the same seed gives the same bytes.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

T0_MS = 1_700_000_000_000
ZIPF_S = 1.0
LATE_FRAC = 0.03
# in-order records sit at T0 + 4*seq; late ones at T0 + 4*(seq - lag) + 2.
# Each lag is a multiple of 3 picked by seq % 3, so (seq - lag) keeps the
# residue of seq mod 3 and late timestamps can never collide.
_TS_STEP = 4
_LATE_LAGS_FILES = (3, 6, 12)

_FEATURES = ('["gps"]', '["gps","wifi"]', '["wifi"]', '["gps","cell"]')
_SOURCES = ('"device"', '"gps"', '"network"', "null")


@dataclass(frozen=True)
class LocationLoad:
    seed: int
    rows_per_file: int
    n_users: int
    hot_share: float = 0.0

    def __post_init__(self) -> None:
        rng = np.random.default_rng([self.seed, 0xC0FFEE])
        w = 1.0 / np.arange(1, self.n_users + 1) ** ZIPF_S
        w = w / w.sum() * (1.0 - self.hot_share)
        w[0] += self.hot_share
        # which ids are popular changes with the seed
        ids = rng.permutation(self.n_users)
        object.__setattr__(self, "_cdf", np.cumsum(w))
        object.__setattr__(self, "users", [f"u{i:05d}" for i in ids])

    def _lags(self) -> np.ndarray:
        return np.array([3 * L * self.rows_per_file for L in _LATE_LAGS_FILES])

    def columns(self, k: int) -> dict[str, np.ndarray]:
        """The raw columns of file ``k`` (seq, user index, timestamp, ...)."""
        n = self.rows_per_file
        rng = np.random.default_rng([self.seed, k])
        seq = np.arange(k * n, (k + 1) * n, dtype=np.int64)
        uidx = np.searchsorted(self._cdf, rng.random(n) * self._cdf[-1])
        uidx = np.minimum(uidx, self.n_users - 1)
        late = rng.random(n) < LATE_FRAC
        lag = self._lags()[seq % 3]
        ts = np.where(
            late,
            T0_MS + _TS_STEP * (seq - lag) + 2,
            T0_MS + _TS_STEP * seq,
        )
        return {
            "seq": seq,
            "uidx": uidx,
            "ts": ts,
            "lat": np.round(rng.uniform(-60.0, 60.0, n), 6),
            "lon": np.round(rng.uniform(-180.0, 180.0, n), 6),
            "acc": np.round(rng.uniform(1.0, 50.0, n), 2),
            "speed": np.round(rng.uniform(0.0, 30.0, n), 2),
            "speed_null": rng.random(n) < 0.2,
            "feat": rng.integers(0, len(_FEATURES), n),
            "src": rng.integers(0, len(_SOURCES), n),
        }

    def file_bytes(self, k: int) -> bytes:
        c = self.columns(k)
        users = self.users
        lines = []
        for i in range(self.rows_per_file):
            speed = "null" if c["speed_null"][i] else repr(float(c["speed"][i]))
            lines.append(
                f'{{"accuracy":{float(c["acc"][i])!r},"altitude":null,'
                f'"altitudeAccuracy":null,"course":null,'
                f'"features":{_FEATURES[c["feat"][i]]},'
                f'"latitude":{float(c["lat"][i])!r},'
                f'"longitude":{float(c["lon"][i])!r},'
                f'"speed":{speed},"source":{_SOURCES[c["src"][i]]},'
                f'"timestamp":{int(c["ts"][i])},'
                f'"user_id":"{users[c["uidx"][i]]}"}}'
            )
        return ("\n".join(lines) + "\n").encode()

    def expected(self, files: range) -> dict[str, tuple[int, int]]:
        """Per user: (row count, sum of timestamps) over ``files``."""
        cnt = np.zeros(self.n_users, dtype=np.int64)
        tsum = np.zeros(self.n_users, dtype=np.int64)
        for k in files:
            c = self.columns(k)
            cnt += np.bincount(c["uidx"], minlength=self.n_users)
            tsum += np.bincount(
                c["uidx"], weights=c["ts"] - T0_MS, minlength=self.n_users
            ).astype(np.int64)
        return {
            self.users[i]: (int(cnt[i]), int(tsum[i]))
            for i in np.nonzero(cnt)[0]
        }

    def seq_of(self, ts: np.ndarray) -> np.ndarray:
        """Invert the timestamp encoding: each row's sequence number."""
        d = ts - T0_MS
        late = d % _TS_STEP == 2
        m = (d - 2) // _TS_STEP
        return np.where(late, m + self._lags()[m % 3], d // _TS_STEP)
