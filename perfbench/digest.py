"""Result digests: row count plus an order-insensitive value hash.

A digest is computed from the collected rows with columns taken in name
order and rows sorted by their canonical text, so two engines that
return the same multiset of values under the same column names agree.
Values are canonicalised exactly (``repr`` for floats): any tolerance
belongs in the query, never here.

``digests.json`` pins one digest per registry row used by the
benchmark. Rows that have oracle SQL are pinned from DuckDB running
``registry.oracle_sql()`` over sf0.1; rows without one (sketches) are
pinned from the engine itself. Re-pin with::

    python3 perfbench/digest.py
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import sys
from pathlib import Path

PINS = Path(__file__).with_name("digests.json")


def _canon(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, bool):
        return "True" if v else "False"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (int, decimal.Decimal)):
        return str(v)
    if isinstance(v, str):
        return repr(v)
    if isinstance(v, (dt.date, dt.datetime, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(columns: list[str], rows: list) -> dict:
    """``{"rows": n, "sha256": ...}`` for a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load_pins() -> dict[str, dict]:
    return {k: {"rows": v["rows"], "sha256": v["sha256"]}
            for k, v in json.loads(PINS.read_text()).items()}


def pin(names: list[str]) -> None:
    """Recompute ``digests.json`` for ``names`` and report every row
    whose engine result disagrees with its oracle."""
    import duckdb

    from hustle_spark import registry
    from perfbench.run import SCRATCH, data_dir, isolate, shutdown, start_session

    sf = data_dir()
    con = duckdb.connect()
    for p in sorted(sf.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    work = SCRATCH / "pin"
    isolate(work)
    spark = start_session(work)
    oracles = registry.oracle_sql()
    pins, disagree = {}, []
    for name in names:
        df = registry.QUERIES[name].fn(spark, str(sf))
        got = digest(df.columns, [tuple(r) for r in df.collect()])
        if name in oracles:
            rel = con.sql(oracles[name])
            want = digest(list(rel.columns), rel.fetchall())
            pins[name] = {**want, "source": "duckdb oracle"}
            if got != want:
                disagree.append(name)
        else:
            again = registry.QUERIES[name].fn(spark, str(sf))
            if digest(again.columns, [tuple(r) for r in again.collect()]) != got:
                disagree.append(name)
            pins[name] = {**got, "source": "engine (no oracle)"}
        print(f"{name}: {pins[name]['rows']} rows  engine={'ok' if name not in disagree else 'DIFFERS'}",
              flush=True)
    shutdown(spark)
    PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    print(f"pinned {len(pins)} rows; engine disagrees on: {disagree or 'none'}")


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from perfbench.workloads import REGISTRY_ROWS, WARM_ROWS

    names = [n for rows in WARM_ROWS.values() for n in rows] + [n for rows in REGISTRY_ROWS.values() for n, _ in rows]
    pin(list(dict.fromkeys(names)))
