"""Per-layer metrics from a traced run's spans and counters.

A span is [id, parent, name, request, start_ns, end_ns, detail]. Spans of
timed iterations have request ids starting with "t"; set-up spans ("s")
are left out. A span's self time is its duration minus the part of it
covered by its children. Spark jobs come from the listener with
millisecond event times, so they are clipped to their parent's interval
when coverage is computed.

Time and count metrics are per iteration of the closed loop (a query-mix
pass, a medallion batch, a ledger cycle): totals over the timed iterations
divided by their number. A layer a workload does not exercise reports 0.
"""
import re
import statistics

SPAN_NAMES = ["query", "queries.build", "plans.plan", "exec.run", "etl.batch",
              "sources.append", "sources.upsert", "sources.delete", "sources.optimize",
              "sources.read", "spark.job"]
OP_KINDS = ["query", "batch", "append", "upsert", "delete", "optimize", "read"]

# name -> unit, in BENCHMARK.json order
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.plan_s": "s", "plans.exchanges": "count", "plans.sorts": "count",
    "exec.run_s": "s", "core.scan_rows": "count", "core.scan_time_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.task_wait_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.core_busy_frac": "ratio",
    "etl.silver_write_s": "s", "etl.silver_count_s": "s", "etl.gold_write_s": "s",
    "etl.validate_s": "s", "etl.driver_gap_s": "s", "etl.silver_files": "count",
    "etl.kept_frac": "ratio", "etl.silver_bytes_per_csv_byte": "ratio",
    "sources.append_s": "s", "sources.upsert_s": "s", "sources.delete_s": "s",
    "sources.optimize_s": "s", "sources.read_s": "s",
    "sources.fs_creates": "count", "sources.fs_renames": "count",
    "sources.fs_deletes": "count", "sources.fs_lists": "count",
    "sources.fs_opens": "count", "sources.fs_bytes_written": "bytes",
    "sources.commits": "count", "sources.manifest_bytes": "bytes",
    "sources.rows_written_per_changed_row": "ratio",
    "sources.files_per_partition": "count", "sources.ledger_bytes_per_live_byte": "ratio",
    **{f"self.{n}_s": "s" for n in SPAN_NAMES},
    **{f"op.{k}_p50_s": "s" for k in OP_KINDS},
    "op.p50_s": "s", "op.p90_s": "s",
    "trace.spans": "count", "trace.iteration_s": "s",
}


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def request_key(op):
    """What a request does, whichever iteration it belongs to: a query's
    name, a ledger step (its name less the cycle), or a batch."""
    if op["kind"] == "batch":
        return "batch"
    return re.sub(r"^cycle-\d+-", "", op["name"])


def iteration_s(raw):
    """Time the client waits on one iteration's requests, from per-request
    medians: for each request key, the median of its timed latencies times
    the number of such requests per timed iteration, summed. A stall of the
    shared host that hits one request moves a median, not the total."""
    groups = {}
    for o in raw["ops"]:
        groups.setdefault(request_key(o), []).append(o["s"])
    n = max(1, len(raw["iter_s"]))
    return sum(len(xs) / n * statistics.median(xs) for xs in groups.values())


def spans_of(raw):
    return [dict(zip(("id", "parent", "name", "req", "start", "end", "detail"), s))
            for s in raw["spans"]]


def self_times(spans):
    """id -> self time in seconds."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"] - covered) / 1e9
    return out


def etl_phases(spans):
    """Seconds of Spark jobs inside each Pipeline.run, by pipeline step,
    from the Spark API each job's action called: Validation's aggregate is
    `validate`; re-reading Silver (the partition listing) and counting it
    is `silver_count`; parquet writes before that count are the Silver
    write, and after it the Gold writes."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    totals = {"silver_write": 0.0, "silver_count": 0.0, "gold_write": 0.0, "validate": 0.0}
    for b in spans:
        if b["name"] != "etl.batch":
            continue
        phase = "silver_write"
        for j in sorted(kids.get(b["id"], []), key=lambda s: s["start"]):
            site = j["detail"]
            if "Validation.scala" in site:
                step = "validate"
            elif "DataFrameReader" in site or "Dataset.count" in site:
                step, phase = "silver_count", "gold_write"
            else:
                step = phase
            totals[step] += (j["end"] - j["start"]) / 1e9
    return totals


def per_layer(workload, raw):
    n = max(1, len(raw["iter_s"]))
    spans = [s for s in spans_of(raw) if s["req"].startswith("t")]
    selfs = self_times(spans)
    dur = {}
    own = {}
    for s in spans:
        dur[s["name"]] = dur.get(s["name"], 0.0) + (s["end"] - s["start"]) / 1e9
        own[s["name"]] = own.get(s["name"], 0.0) + selfs[s["id"]]
    names = {s["id"]: s["name"] for s in spans}
    build_jobs = sum(1 for s in spans
                     if s["name"] == "spark.job" and names.get(s["parent"]) == "queries.build")
    plan = raw["figures"].get("plan_totals", {})
    sp = raw["spark"]
    fs = raw["fs"]
    host = raw["host"]
    etl = etl_phases(spans)
    m = {
        "queries.build_s": dur.get("queries.build", 0.0) / n,
        "queries.build_jobs": build_jobs / n,
        "plans.plan_s": dur.get("plans.plan", 0.0) / n,
        "plans.exchanges": plan.get("exchanges", 0.0) / n,
        "plans.sorts": plan.get("sorts", 0.0) / n,
        "exec.run_s": dur.get("exec.run", 0.0) / n,
        "core.scan_rows": plan.get("scan_rows", 0.0) / n,
        "core.scan_time_s": plan.get("scan_time_s", 0.0) / n,
        "spark.core_busy_frac": sp.get("task_wall_s", 0.0) / (host["cores_used"] * raw["loop_s"]),
        "etl.silver_write_s": etl["silver_write"] / n,
        "etl.silver_count_s": etl["silver_count"] / n,
        "etl.gold_write_s": etl["gold_write"] / n,
        "etl.validate_s": etl["validate"] / n,
        "etl.driver_gap_s": own.get("etl.batch", 0.0) / n,
        "sources.append_s": dur.get("sources.append", 0.0) / n,
        "sources.upsert_s": dur.get("sources.upsert", 0.0) / n,
        "sources.delete_s": dur.get("sources.delete", 0.0) / n,
        "sources.optimize_s": dur.get("sources.optimize", 0.0) / n,
        "sources.read_s": dur.get("sources.read", 0.0) / n,
        "trace.spans": len(spans) / n,
        "trace.iteration_s": iteration_s(raw),
    }
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "task_wait_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"spark.{k}"] = sp.get(k, 0.0) / n
    ledger = workload == "ledger-commits"
    for k in ("fs_creates", "fs_renames", "fs_deletes", "fs_lists", "fs_opens",
              "fs_bytes_written"):
        m[f"sources.{k}"] = fs.get(k, 0.0) / n if ledger else 0.0
    for name in SPAN_NAMES:
        m[f"self.{name}_s"] = own.get(name, 0.0) / n
    for kind in OP_KINDS:
        xs = [o["s"] for o in raw["ops"] if o["kind"] == kind]
        m[f"op.{kind}_p50_s"] = statistics.median(xs) if xs else 0.0
    latencies = [o["s"] for o in raw["ops"]]
    m["op.p50_s"] = quantile(latencies, 0.5)
    m["op.p90_s"] = quantile(latencies, 0.9)
    m.update(figures(workload, raw, spans))
    return {k: (m[k], unit) for k, unit in PER_LAYER.items()}


def figures(workload, raw, spans=None):
    """Workload-specific figures from the result: size ratios and layout
    counts, plus the per-layer numbers that need no trace."""
    f = {k: 0.0 for k in ("etl.silver_files", "etl.kept_frac", "etl.silver_bytes_per_csv_byte",
                          "sources.commits", "sources.manifest_bytes",
                          "sources.rows_written_per_changed_row", "sources.files_per_partition",
                          "sources.ledger_bytes_per_live_byte")}
    chk = raw["check"]
    if workload == "medallion-batch":
        timed = [b for b in chk["batches"] if b["timed"]]
        f["etl.silver_files"] = statistics.median(b["silver_files"] for b in timed)
        f["etl.kept_frac"] = statistics.median(
            b["stats"]["kept"] / b["stats"]["total"] for b in timed)
        f["etl.silver_bytes_per_csv_byte"] = statistics.median(
            b["silver_bytes_written"] / b["csv_bytes"] for b in timed)
    if workload == "ledger-commits":
        n = max(1, len(raw["iter_s"]))
        f["sources.commits"] = raw["figures"]["commits"] / n
        f["sources.manifest_bytes"] = chk["log_bytes"] / max(1, chk["log_files"])
        fpp = raw["figures"]["files_per_partition"]
        f["sources.files_per_partition"] = statistics.mean(fpp) if fpp else 0.0
        f["sources.ledger_bytes_per_live_byte"] = chk["table_bytes"] / max(1, chk["live_bytes"])
        if spans is not None:
            names = {s["id"]: s["name"] for s in spans}
            written = sum(v for k, v in raw["records_written_by_span"].items()
                          if names.get(int(k)) == "sources.upsert")
            f["sources.rows_written_per_changed_row"] = (
                written / max(1, raw["figures"]["changed_rows"]))
    return f
