"""Seeded air-quality load for the streaming workloads.

Each published file holds JSON-envelope lines::

    {"event_id": 17, "created_at": 1767225600.25, "payload": "{...}"}

``payload`` is the producer's flat record (FIXTURES.md §1, the first 14
columns of ``schemas.AIR_QUALITY_SCHEMA``).  ``created_at`` is the
record's creation stamp in epoch seconds, also its event time.  The
records of a file are created evenly over the ``span`` seconds before
the file is *due* on the generator's schedule, so producer batching and
a late generator both show up in freshness instead of hiding.

What the seed fixes: the location set (16 cities, some with spaces) and
its Zipf skew, every value, and which ~1% of payloads are truncated
(dead-letter input).  ``pm2_5`` and ``temp_c`` hit the AQI and
temperature band boundaries exactly on ~10% of rows.  The same seed,
file index, due time and span give byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

CITIES = [
    "Delhi", "New Delhi", "Mumbai", "Beijing", "Sao Paulo", "Mexico City",
    "Cairo", "Dhaka", "Lagos", "Los Angeles", "Hong Kong", "Paris",
    "London", "Jakarta", "Lima", "Seoul",
]
CONDITIONS = ["Sunny", "Clear", "Partly cloudy", "Overcast", "Mist", "Light rain"]
AQI_EDGES = [12.0, 35.0, 55.0, 150.0, 250.0]
TEMP_EDGES = [0.0, 10.0, 20.0, 30.0]
CORRUPT_FRAC = 0.01
BOUNDARY_FRAC = 0.10
ZERO_FRAC = 0.02


@dataclass
class FileStats:
    """What one published file holds, for the output checks."""

    index: int
    due: float
    event_ids: np.ndarray
    corrupt: np.ndarray  # bool per event id
    records: list[dict] = field(repr=False)  # the good payloads, parsed


class AirQualityLoad:
    """Deterministic record factory: file ``i`` depends only on
    (seed, i, stamp)."""

    def __init__(self, seed: int, rows_per_file: int):
        self.seed = seed
        self.rows_per_file = rows_per_file
        rng = np.random.default_rng([seed, 0])
        order = rng.permutation(len(CITIES))
        self.locations = [CITIES[i] for i in order]
        w = 1.0 / np.arange(1, len(CITIES) + 1) ** 1.1
        self.weights = w / w.sum()

    def _payloads(self, index: int, due: float, span: float):
        n = self.rows_per_file
        rng = np.random.default_rng([self.seed, 1, index])
        loc = rng.choice(len(self.locations), n, p=self.weights)
        temp = np.round(rng.uniform(-20.0, 45.0, n), 1)
        temp = np.where(rng.random(n) < BOUNDARY_FRAC, rng.choice(TEMP_EDGES, n), temp)
        pm25 = np.round(rng.uniform(0.0, 400.0, n), 1)
        pm25 = np.where(rng.random(n) < BOUNDARY_FRAC, rng.choice(AQI_EDGES, n), pm25)
        pollutants = {
            "co": np.round(rng.gamma(2.0, 150.0, n), 2),
            "no2": np.round(rng.gamma(2.0, 10.0, n), 2),
            "o3": np.round(rng.gamma(2.0, 30.0, n), 2),
            "so2": np.round(rng.gamma(2.0, 5.0, n), 2),
            "pm2_5": pm25,
            "pm10": np.round(pm25 * rng.uniform(1.0, 2.0, n), 1),
        }
        for col in pollutants.values():
            col[rng.random(n) < ZERO_FRAC] = 0.0
        humidity = rng.integers(0, 101, n)
        cond = rng.integers(0, len(CONDITIONS), n)
        corrupt = rng.random(n) < CORRUPT_FRAC
        cuts = rng.random(n)
        ids = np.arange(index * n, (index + 1) * n, dtype=np.int64)
        # whole microseconds, so the JSON stamp and the parsed timestamp agree
        created = np.round(due * 1e6 - span * 1e6 * (n - 0.5 - np.arange(n)) / n) / 1e6
        records, payloads = [], []
        for j in range(n):
            event_ts = dt.datetime.fromtimestamp(created[j], dt.timezone.utc)
            rec = {
                "location": self.locations[loc[j]],
                "region": f"Region {loc[j] % 4}",
                "country": f"Country {loc[j] % 8}",
                "localtime": event_ts.strftime("%Y-%m-%d %H:%M"),
                "temp_c": float(temp[j]),
                "humidity": int(humidity[j]),
                "condition": CONDITIONS[cond[j]],
                "timestamp": event_ts.replace(tzinfo=None).isoformat(timespec="microseconds"),
                **{k: float(v[j]) for k, v in pollutants.items()},
            }
            text = json.dumps(rec)
            if corrupt[j]:
                # any proper prefix of a JSON object fails to parse
                text = text[: 1 + int(cuts[j] * (len(text) - 2))]
            else:
                records.append({"event_id": int(ids[j]), **rec})
            payloads.append(text)
        return ids, corrupt, created, records, payloads

    def render(self, index: int, due: float, span: float = 0.0) -> tuple[str, FileStats]:
        """The file's text and its stats."""
        ids, corrupt, created, records, payloads = self._payloads(index, due, span)
        lines = [
            json.dumps({"event_id": int(i), "created_at": float(c), "payload": p})
            for i, c, p in zip(ids, created, payloads)
        ]
        return "\n".join(lines) + "\n", FileStats(index, due, ids, corrupt, records)

    def publish(self, src_dir: str, index: int, due: float, span: float = 0.0) -> FileStats:
        """Write file ``index`` atomically: a hidden temp name (the file
        source skips names starting with '.'), then a rename."""
        text, stats = self.render(index, due, span)
        final = os.path.join(src_dir, f"part-{index:06d}.json")
        tmp = os.path.join(src_dir, f".part-{index:06d}.json.tmp")
        with open(tmp, "w") as fh:
            fh.write(text)
        os.rename(tmp, final)
        return stats


class OpenLoopPublisher(threading.Thread):
    """Publishes one file every ``period`` seconds from ``t0`` until
    ``t_end``, whatever the engine does; its records are created over the
    period before it is due.  ``lateness`` records how far behind
    schedule each publish ran."""

    def __init__(
        self, load: AirQualityLoad, src_dir: str, t0: float, period: float, t_end: float,
        first_index: int = 0,
    ):
        super().__init__(name="load-generator", daemon=True)
        self.load, self.src_dir = load, src_dir
        self.t0, self.period, self.t_end = t0, period, t_end
        self.first_index = first_index
        self.files: list[FileStats] = []
        self.lateness: list[float] = []
        self.error: BaseException | None = None
        self.abort = threading.Event()

    def run(self) -> None:
        try:
            i = 0
            while (due := self.t0 + i * self.period) < self.t_end:
                if self.abort.wait(max(0.0, due - time.time())):
                    return
                self.files.append(
                    self.load.publish(self.src_dir, self.first_index + i, due, self.period)
                )
                self.lateness.append(max(0.0, time.time() - due))
                i += 1
        except Exception as exc:  # re-raised by the caller after join
            self.error = exc
