"""Open-loop binlog generator for the live tail of the ``replicate`` workload.

``write_records`` draws every change record from the run's seed ahead of
the run, in the benchmark's input process. The generator itself runs in
its own process and only appends those records: first the
``WARM_EVENTS`` records of the warm-up segment to ``binlog.000001`` at
once, for the stream to drain before the live run; it writes that
segment's end offset to ``--ready-out``. It then waits for the file
``--go`` to appear and fixes the schedule: tick ``k`` is due at
``start + k * TICK_MS``, with ``start`` a short lead after the go
signal, and is written to ``--start-out`` at once. Each tick appends
its records to the current ``binlog.NNNNNN`` file (a new file every
``ROTATE_EVERY`` ticks), whatever the reader is doing. A late tick is
written as soon as possible and its lateness recorded; the schedule
never shifts.

When it ends it writes one JSON line per tick to ``--ticks-out``:
``{"tick", "due", "file", "end", "events", "late_ms"}``, where
``(file, end)`` is the binlog position just after the tick's records.

Usage: python3 -m perfbench.live_gen --dir D --records FILE --ticks N
       --ready-out FILE --go FILE --start-out FILE --ticks-out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

RATE = 1_000  # events/s: a batch per trigger interval takes ~0.5 s (METRICS.md)
TICK_MS = 50
PER_TICK = RATE * TICK_MS // 1000
ROTATE_EVERY = 60  # ticks per binlog file (3 s)
WARM_EVENTS = RATE  # the warm-up segment ahead of the first tick: one second's events
GTID_SOURCE = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
KEYS = 100_000  # stand-in: perfbench/METRICS.md, "Workload parameters"
# FIXTURES F3: include ["orders", "lineitem.*"], exclude ["temp_.*", ".*_backup"]
EXCLUDED_SHARE = 0.10
EXCLUDED_TABLES = ("temp_orders", "orders_backup")
INCLUDE_TABLES = ["orders", "lineitem.*"]
EXCLUDE_TABLES = ["temp_.*", ".*_backup"]


def records(seed: int, n: int) -> list[bytes]:
    """``n`` encoded change records (JSON lines) drawn from ``seed``."""
    # imported here: the generator process only appends drawn records
    import numpy as np

    from perfbench import tables
    from xxt_cdc_spark.streaming.binlog_source import encode_record

    rng = np.random.default_rng(seed)
    keys = tables.zipf_keys(rng, KEYS, n)
    excluded = rng.random(n) < EXCLUDED_SHARE
    which = rng.integers(0, len(EXCLUDED_TABLES), n)
    deletes = rng.random(n) < tables.DELETE_SHARE
    cust = rng.integers(0, 15_000, n)
    cents = rng.integers(100_000, 50_000_000, n)
    days = rng.integers(0, 2400, n)
    status = rng.integers(0, 3, n)
    prio = rng.integers(0, 5, n)
    seen: set[int] = set()
    base = np.datetime64("1995-01-01")
    out = []
    for i in range(n):
        k = int(keys[i])
        table = EXCLUDED_TABLES[which[i]] if excluded[i] else "orders"
        first = table == "orders" and k not in seen
        if table == "orders":
            seen.add(k)
        op = "I" if first else ("D" if deletes[i] else "U")
        image = json.dumps(
            {
                "o_orderkey": k,
                "o_custkey": int(cust[i]),
                "o_orderstatus": "OFP"[status[i]],
                "o_totalprice": int(cents[i]) / 100.0,
                "o_orderdate": str(base + int(days[i])),
                "o_orderpriority": ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[prio[i]],
            },
            separators=(",", ":"),
        )
        rec = {
            "db": "shop",
            "table": table,
            "op": op,
            "ts": None,
            "gtid": f"{GTID_SOURCE}:{i + 1}",
            "key": json.dumps({"o_orderkey": k}, separators=(",", ":")),
            "before": None if op == "I" else image,
            "after": None if op == "D" else image,
        }
        out.append((encode_record(rec) + "\n").encode())
    return out


def write_records(path: str, seed: int, n_ticks: int) -> None:
    """The warm-up segment and ``n_ticks`` ticks of records, to ``path``."""
    with open(path, "wb") as f:
        f.write(b"".join(records(seed, WARM_EVENTS + PER_TICK * n_ticks)))


LEAD_S = 0.5
GO_TIMEOUT_S = 120.0


def _publish(path: str, value) -> None:
    with open(path + ".tmp", "w") as f:
        f.write(repr(value))
    os.replace(path + ".tmp", path)


def run(directory: str, records_path: str, ready_out: str, go: str, start_out: str, n_ticks: int) -> list[dict]:
    with open(records_path, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    os.makedirs(directory, exist_ok=True)
    file_no = 1
    name = f"binlog.{file_no:06d}"
    fh = open(os.path.join(directory, name), "ab")
    ticks = []
    parent = os.getppid()
    try:
        fh.write(b"".join(lines[:WARM_EVENTS]))
        # flushed, not synced: the stream reads through the page cache,
        # and a sync per tick only adds journal commits that stall the
        # stream's own checkpoint writes
        fh.flush()
        _publish(ready_out, fh.tell())
        lines = lines[WARM_EVENTS:]
        deadline = time.time() + GO_TIMEOUT_S
        while not os.path.exists(go):
            if time.time() > deadline:
                raise SystemExit("no go signal")
            time.sleep(0.01)
        start = time.time() + LEAD_S
        _publish(start_out, start)
        for k in range(n_ticks):
            due = start + k * TICK_MS / 1000.0
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            if k and k % ROTATE_EVERY == 0:
                fh.close()
                file_no += 1
                name = f"binlog.{file_no:06d}"
                fh = open(os.path.join(directory, name), "ab")
            fh.write(b"".join(lines[k * PER_TICK : (k + 1) * PER_TICK]))
            fh.flush()
            ticks.append(
                {
                    "tick": k,
                    "due": due,
                    "file": name,
                    "end": fh.tell(),
                    "events": PER_TICK,
                    "late_ms": max(0.0, (time.time() - due) * 1000.0),
                }
            )
            if os.getppid() != parent:  # the benchmark died: stop
                break
    finally:
        fh.close()
    return ticks


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--records", required=True)
    ap.add_argument("--ready-out", required=True)
    ap.add_argument("--go", required=True)
    ap.add_argument("--start-out", required=True)
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--ticks-out", required=True)
    a = ap.parse_args(argv)
    ticks = run(a.dir, a.records, a.ready_out, a.go, a.start_out, a.ticks)
    with open(a.ticks_out, "w") as f:
        for t in ticks:
            f.write(json.dumps(t) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
