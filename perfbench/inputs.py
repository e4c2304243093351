"""Seeded newline-JSON event batches for the ``ingest_append`` workload.

Batches are cut from the sf0.1 ``events`` table with pyarrow and the
standard ``json`` module only (the engine never touches its own inputs).
The table's rows, in ``ts`` order, form one event stream; batch ``i``
is the next ``BATCH_ROWS`` rows of that stream, so the data's own
arrival rate (its rows per day) decides how fast dates advance and how
many ``date`` partitions a batch touches. Every batch lands on the
newest one or two days, so the recent partitions are favoured.

The seed picks where in the stream a run starts. When the stream runs
out it starts again from its first row, shifted by the table's whole
time span, so dates keep advancing. Batch ``i`` of seed ``s`` depends on
nothing but ``(s, i)`` and the source file, so the same seed always
yields byte-identical files, and a batch can be generated lazily and
cached per seed (and per version of this file).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from dataclasses import dataclass
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

BATCH_ROWS = 5000
EPOCH = dt.datetime(1970, 1, 1)


@dataclass(frozen=True)
class Event:
    """One generated row, in the form the checks compare against."""

    event_id: int
    ts_us: int  # microseconds since the epoch, UTC
    user_id: int
    event_type: str
    value: float
    date: str
    json_bytes: int  # length of the row's JSON line, newline included


class EventBatches:
    """Lazily generated, per-seed cached batches over one events file."""

    def __init__(self, events_parquet: Path, cache_dir: Path, seed: int):
        self.events_parquet = Path(events_parquet)
        # the generator's own source is part of the key: a changed
        # generator never reads batches an older one cached
        version = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]
        self.dir = Path(cache_dir) / f"seed-{seed}-{version}"
        self.seed = seed
        self._source = None

    def path(self, i: int) -> Path:
        return self.dir / f"batch-{i:05d}.jsonl"

    def load(self, i: int) -> tuple[Path, list[Event]]:
        """The batch file (generated on first use) and its rows."""
        path = self.path(i)
        if not path.exists():
            self.dir.mkdir(parents=True, exist_ok=True)
            tmp = path.with_suffix(f".tmp{os.getpid()}")
            tmp.write_bytes(self.render(i))
            tmp.replace(path)
        return path, [_parse(line) for line in path.read_bytes().splitlines()]

    def _stream(self) -> dict:
        """The source rows in ``ts`` order (ties by ``event_id``), the
        seed's start position, and the span one pass of the stream
        covers in whole days."""
        if self._source is None:
            t = pq.read_table(self.events_parquet,
                              columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
            t = t.take(pc.sort_indices(t, [("ts", "ascending"), ("event_id", "ascending")]))
            src = t.to_pydict()
            first, last = src["ts"][0].date(), src["ts"][-1].date()
            src["lap"] = dt.timedelta(days=(last - first).days + 1)
            src["start"] = random.Random(self.seed).randrange(len(src["ts"]))
            self._source = src
        return self._source

    def render(self, i: int) -> bytes:
        """Batch ``i`` as newline-JSON bytes."""
        src = self._stream()
        n_src = len(src["ts"])
        lines = []
        for j in range(BATCH_ROWS):
            lap, k = divmod(src["start"] + i * BATCH_ROWS + j, n_src)
            ts = src["ts"][k] + lap * src["lap"]
            row = {
                "event_id": lap * 10**9 + src["event_id"][k],
                "ts": ts.isoformat(timespec="microseconds"),
                "user_id": src["user_id"][k],
                "event_type": src["event_type"][k],
                "value": src["value"][k],
                "props": src["props"][k],
                "date": ts.date().isoformat(),
            }
            lines.append(json.dumps(row, separators=(",", ":")))
        return ("\n".join(lines) + "\n").encode()


def _parse(line: bytes) -> Event:
    r = json.loads(line)
    ts = dt.datetime.fromisoformat(r["ts"])
    return Event(
        event_id=r["event_id"],
        ts_us=(ts - EPOCH) // dt.timedelta(microseconds=1),
        user_id=r["user_id"],
        event_type=r["event_type"],
        value=r["value"],
        date=r["date"],
        json_bytes=len(line) + 1,
    )
