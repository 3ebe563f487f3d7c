#!/usr/bin/env python3
"""Seeded inputs for the ledger-commits workload.

Usage: python3 perfbench/gen_ledger.py <out_dir> <seed> <days> <rows_per_day>
           <corrections_per_cycle> <cycles>

Writes, in the transaction schema of a Silver batch (fecha as UTC
timestamps, monto as DECIMAL(18,2), partition column fecha_dia):
  seed.parquet              `days` consecutive days of `rows_per_day` rows
  cycle-<k>-append.parquet  the next day, appended in cycle k, plus 10%
                            late rows for 3 older live days (these
                            fragment older partitions into several files)
  cycle-<k>-upsert.parquet  status/amount corrections of live rows, keyed
                            on id_transaccion: 80% from the last 3 days,
                            the rest from one older day
  plan.tsv                  k, day appended, day deleted (the oldest live
                            day), rows appended, rows corrected
A day's rows depend only on (seed, day), so a correction row repeats the
original row with a new status and amount.
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = datetime.date(2025, 1, 1)
SCHEMA = pa.schema([
    ("id_transaccion", pa.string()),
    ("id_atm", pa.string()),
    ("fecha", pa.timestamp("us", tz="UTC")),
    ("monto", pa.decimal128(18, 2)),
    ("tipo_movimiento", pa.string()),
    ("status_transaccion", pa.string()),
    ("fecha_dia", pa.date32()),
])


def day_rows(seed, day, n):
    """Column arrays of day `day` (index from DAY0)."""
    rng = np.random.default_rng([seed, day])
    date = DAY0 + datetime.timedelta(days=day)
    midnight_us = int(datetime.datetime(date.year, date.month, date.day,
                                        tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
    return {
        "id_transaccion": np.array([f"tx-{day:05d}-{i:06d}" for i in range(n)]),
        "id_atm": np.array([f"ATM-{a:03d}" for a in rng.integers(1, 51, n)]),
        "fecha": midnight_us + rng.integers(0, 86_400_000_000, n),
        "cents": rng.integers(1000, 800_001, n),
        "tipo_movimiento": np.where(rng.random(n) < 0.8, "RETIRO", "DEPOSITO"),
        "status_transaccion": np.full(n, "EXITOSA"),
        "fecha_dia": np.full(n, (date - datetime.date(1970, 1, 1)).days),
    }


def money(cents):
    """DECIMAL(18,2) array from integer cents: 128-bit little-endian
    unscaled values, sign-extended."""
    words = np.empty((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    words[:, 1] = np.where(cents < 0, -1, 0)
    return pa.Array.from_buffers(pa.decimal128(18, 2), len(cents),
                                 [None, pa.py_buffer(words.tobytes())])


def table(cols, idx=None):
    pick = (lambda a: a) if idx is None else (lambda a: a[idx])
    return pa.table({
        "id_transaccion": pick(cols["id_transaccion"]),
        "id_atm": pick(cols["id_atm"]),
        "fecha": pa.array(pick(cols["fecha"]), pa.timestamp("us", tz="UTC")),
        "monto": money(pick(cols["cents"])),
        "tipo_movimiento": pick(cols["tipo_movimiento"]),
        "status_transaccion": pick(cols["status_transaccion"]),
        "fecha_dia": pa.array(pick(cols["fecha_dia"]).astype(np.int32), pa.date32()),
    }, schema=SCHEMA)


def generate(out, seed, days, rows, corrections, cycles):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1 << 20])
    live = {d: day_rows(seed, d, rows) for d in range(days)}
    pq.write_table(pa.concat_tables([table(live[d]) for d in range(days)]),
                   os.path.join(out, "seed.parquet"))
    plan = []
    for k in range(cycles):
        new_day, old_day = days + k, k
        live[new_day] = day_rows(seed, new_day, rows)
        days_live = sorted(live)
        late = []
        for d in rng.choice(days_live[1:-3], 3, replace=False):
            n_late = rows // 30
            cols = day_rows(seed + 1 + k, int(d), n_late)
            cols["id_transaccion"] = np.array([f"tx-{d:05d}-L{k:05d}-{i:05d}"
                                               for i in range(n_late)])
            late.append(table(cols))
        pq.write_table(pa.concat_tables([table(live[new_day])] + late),
                       os.path.join(out, f"cycle-{k}-append.parquet"))
        recent = days_live[-3:]
        older = [int(rng.choice(days_live[1:-3]))]
        n_recent = int(corrections * 0.8)
        picks = set()
        while len(picks) < corrections:
            pool = recent if len(picks) < n_recent else older
            picks.add((int(rng.choice(pool)), int(rng.integers(0, rows))))
        parts = []
        for d in sorted({d for d, _ in picks}):
            idx = np.array(sorted(i for dd, i in picks if dd == d))
            cols = dict(live[d])
            cols["status_transaccion"] = np.where(rng.random(len(idx)) < 0.5,
                                                  "REVERSADA", "FALLIDA")
            cols["cents"] = rng.integers(1000, 800_001, len(idx))
            t = table({k2: (v if k2 in ("status_transaccion", "cents") else v[idx])
                       for k2, v in cols.items()})
            parts.append(t)
        pq.write_table(pa.concat_tables(parts), os.path.join(out, f"cycle-{k}-upsert.parquet"))
        del live[old_day]
        plan.append((k, str(DAY0 + datetime.timedelta(days=new_day)),
                     str(DAY0 + datetime.timedelta(days=old_day)), rows + 3 * (rows // 30),
                     corrections))
    with open(os.path.join(out, "plan.tsv"), "w") as f:
        f.writelines("\t".join(map(str, p)) + "\n" for p in plan)


if __name__ == "__main__":
    if len(sys.argv) != 7:
        sys.exit(__doc__)
    generate(sys.argv[1], *map(int, sys.argv[2:]))
