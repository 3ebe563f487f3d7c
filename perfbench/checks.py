"""Output checks against DuckDB, run after the timed region.

check(workload, raw, inputs) returns {"correct", "op_ok", "detail"}:
`op_ok(op)` tells whether a timed request's output passed, so failed and
incorrect requests both count in the error rate.
"""
import decimal
import json
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check import TABLES, canon  # noqa: E402  (the repository's oracle hash)


def check(workload, raw, inputs):
    return {"query-mix": check_queries, "medallion-batch": check_medallion,
            "ledger-commits": check_ledger}[workload](raw, inputs)


def oracle_hashes(corpus, results):
    """Oracle (columns, rows, hash) per query, cached beside the corpus."""
    path = os.path.join(corpus, "oracle-hashes.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    todo = {n: r["oracle"] for n, r in results.items() if n not in cache and r["oracle"]}
    if todo:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
        for name, sql in todo.items():
            cols, n, h, _ = canon(con.sql(sql))
            cache[name] = [cols, n, h]
        with open(path, "w") as f:
            json.dump(cache, f)
    return cache


def check_queries(raw, corpus):
    results = raw["check"]["results"]
    oracle = oracle_hashes(corpus, results)
    con = duckdb.connect()
    bad = {}
    for name, r in sorted(results.items()):
        if not r["ok"]:
            bad[name] = "query failed"
            continue
        cols, n, h, _ = canon(con.sql(f"SELECT * FROM read_parquet('{r['dir']}/*.parquet')"))
        if name not in oracle:
            bad[name] = "no oracle"
        elif [cols, n, h] != oracle[name]:
            bad[name] = f"mismatch: rows {n} vs {oracle[name][1]}"
    return {"correct": not bad, "op_ok": lambda o: o["name"] not in bad,
            "detail": f"{len(results) - len(bad)}/{len(results)} queries match the oracle"
                      + (f"; failing: {bad}" if bad else "")}


FACT_COLS = ("{'id_transaccion': 'VARCHAR', 'id_atm': 'VARCHAR', 'fecha': 'TIMESTAMP', "
             "'monto': 'DECIMAL(18,2)', 'tipo_movimiento': 'VARCHAR', "
             "'status_transaccion': 'VARCHAR'}")
DIM_COLS = ("{'id_atm': 'VARCHAR', 'ubicacion': 'VARCHAR', 'latitud': 'DOUBLE', "
            "'longitud': 'DOUBLE', 'capacidad_maxima': 'BIGINT', 'modelo': 'VARCHAR', "
            "'estado': 'VARCHAR'}")


def check_medallion(raw, _inputs):
    """Each batch's rule counts, and the last batch's validation report,
    recomputed in DuckDB from the generated CSVs. Silver keeps, per day,
    the rows of the latest batch holding that day (dynamic overwrite)."""
    chk = raw["check"]
    clock = f"TIMESTAMP '{chk['clock']}'"
    con = duckdb.connect()
    rows, mismatches = [], []
    for i, b in enumerate(chk["batches"]):
        con.execute(f"""CREATE OR REPLACE TABLE f{i} AS SELECT * FROM read_csv(
            '{b['input']}/fact_transactions/*.csv', header=true, columns={FACT_COLS})""")
        con.execute(f"""CREATE OR REPLACE TABLE d{i} AS SELECT * FROM read_csv(
            '{b['input']}/dim_atms/*.csv', header=true, columns={DIM_COLS})""")
        total, v_atm, v_monto, v_fecha, v_status, kept = con.sql(f"""
            SELECT count(*),
                   count(*) FILTER (WHERE id_atm IS NULL),
                   count(*) FILTER (WHERE NOT coalesce(monto > 0, false)),
                   count(*) FILTER (WHERE NOT coalesce(fecha <= {clock}, false)),
                   count(*) FILTER (WHERE status_transaccion <> 'EXITOSA'),
                   count(*) FILTER (WHERE id_atm IS NOT NULL AND monto > 0
                                    AND fecha <= {clock} AND status_transaccion = 'EXITOSA')
            FROM f{i}""").fetchone()
        want = {"total": total, "kept": kept, "violations": {
            "id_atm_not_null": v_atm, "monto_positive": v_monto,
            "fecha_not_future": v_fecha, "status_transaccion_allowed": v_status}}
        rows.append(b["stats"] == want)
        if b["stats"] != want:
            mismatches.append(f"{os.path.basename(b['input'])}: RuleStats {b['stats']} "
                              f"vs DuckDB {want}")
        con.execute(f"""CREATE OR REPLACE TABLE k{i} AS
            SELECT {i} AS b, f.id_atm, f.monto, d.ubicacion, CAST(f.fecha AS DATE) AS fecha_dia
            FROM f{i} f LEFT JOIN d{i} d USING (id_atm)
            WHERE f.id_atm IS NOT NULL AND f.monto > 0 AND f.fecha <= {clock}
              AND f.status_transaccion = 'EXITOSA'""")
    union = " UNION ALL ".join(f"SELECT * FROM k{i}" for i in range(len(chk["batches"])))
    v = con.sql(f"""
        WITH k AS ({union}),
             latest AS (SELECT fecha_dia, max(b) AS b FROM k GROUP BY 1),
             s AS (SELECT k.* FROM k JOIN latest USING (fecha_dia, b))
        SELECT count(*), count(id_atm), count(monto), count(ubicacion), min(monto), max(monto),
               count(*) FILTER (WHERE monto <= 0), count(DISTINCT id_atm),
               count(DISTINCT fecha_dia) FROM s""").fetchone()
    want = dict(zip(("total", "nn_atm", "nn_monto", "nn_ubicacion", "min_monto", "max_monto",
                     "montos_invalidos", "n_atms", "n_days"), v))
    got = dict(chk["batches"][-1]["validation"])
    for k in ("min_monto", "max_monto"):
        got[k] = decimal.Decimal(str(got[k]))
    validation_ok = got == want
    ok = {b["input"].rsplit("in-", 1)[-1]: r for b, r in zip(chk["batches"], rows)}
    return {"correct": all(rows) and validation_ok,
            "op_ok": lambda o: ok.get(o["name"], False) and validation_ok,
            "detail": f"{sum(rows)}/{len(rows)} batches match DuckDB rule counts; "
                      f"validation {'matches' if validation_ok else f'differs: {got} vs {want}'}"
                      + "".join(f"; {m}" for m in mismatches)}


def check_ledger(raw, inputs):
    """Replays the committed cycles in DuckDB and compares the final row
    count, key uniqueness and sum(monto)."""
    chk = raw["check"]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{inputs}/seed.parquet')")
    plan = [line.split("\t") for line in open(os.path.join(inputs, "plan.tsv")).read().splitlines()]
    for k in range(chk["cycles"]):
        up = f"read_parquet('{inputs}/cycle-{k}-upsert.parquet')"
        con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{inputs}/cycle-{k}-append.parquet')")
        con.execute(f"DELETE FROM t WHERE id_transaccion IN (SELECT id_transaccion FROM {up})")
        con.execute(f"INSERT INTO t SELECT * FROM {up}")
        con.execute(f"DELETE FROM t WHERE fecha_dia = DATE '{plan[k][2]}'")
    n, distinct, total = con.sql(
        "SELECT count(*), count(DISTINCT id_transaccion), sum(monto) FROM t").fetchone()
    got = (chk["rows"], chk["distinct_ids"], decimal.Decimal(str(chk["sum_monto"])))
    ok = got == (n, distinct, total) and chk["rows"] == chk["distinct_ids"]
    return {"correct": ok, "op_ok": lambda o: ok,
            "detail": f"after {chk['cycles']} cycles: rows {got[0]} (DuckDB {n}), "
                      f"distinct ids {got[1]} (DuckDB {distinct}), sum(monto) {got[2]} "
                      f"(DuckDB {total})"}
