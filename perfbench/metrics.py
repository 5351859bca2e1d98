"""The benchmark's arithmetic: from the harness's raw record to metrics.

Everything that turns samples into a reported number lives here, so that
tests/test_metrics.py can pin it without a JVM.
"""
import json
import math
import os
import statistics

MB = 1024.0 * 1024.0
STREAM_QUERIES = ("stats", "fidelity", "wordcount")
# durationMs parts reported per stream query, as metric suffixes
EPOCH_PARTS = {"walCommit": "wal_commit_ms_p50", "commitOffsets": "commit_offsets_ms_p50",
               "latestOffset": "latest_offset_ms_p50", "queryPlanning": "query_planning_ms_p50",
               "addBatch": "add_batch_ms_p50"}
TAIL_LEVELS = (0.99, 0.95, 0.9, 0.75, 0.5)
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_geomean_ms": "ms", "peak_rss_mb": "MB"}


# --------------------------------------------------------------- statistics

def nearest_rank(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share q
    of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    v = sorted(values)
    rank = max(1, math.ceil(q * len(v)))
    return v[rank - 1]


def reportable(n, q):
    """A percentile is reported only with at least ten samples beyond it."""
    return n - max(1, math.ceil(q * n)) >= 10


def tail(values):
    """(level, value) of the highest of TAIL_LEVELS that is reportable for
    this many samples; the median when none is."""
    for q in TAIL_LEVELS:
        if reportable(len(values), q):
            return q, nearest_rank(values, q)
    return 0.5, nearest_rank(values, 0.5)


def geomean(values):
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def busy_ratio(executor_run_s, cores, wall_s):
    """Share of the available core-seconds that executors spent running
    tasks; the base is cores x wall time of the same interval."""
    return executor_run_s / (cores * wall_s)


def files_to_epochs(file_rows, epoch_rows):
    """Index of the epoch that consumed each file.

    A file source hands files to micro-batches in write order, so a file is
    consumed by the first epoch whose cumulative input rows reach the
    cumulative rows up to and including that file. One epoch can take
    several files. Returns None for a file no epoch reached.
    """
    out, e, seen = [], 0, 0
    cum_epochs = []
    for r in epoch_rows:
        seen += r
        cum_epochs.append(seen)
    total = 0
    for r in file_rows:
        total += r
        while e < len(cum_epochs) and cum_epochs[e] < total:
            e += 1
        out.append(e if e < len(cum_epochs) else None)
    return out


# ------------------------------------------------------------- output check

def oracle_checks(root, data_dir, out_dir, rec):
    """Compares each written output with its DuckDB oracle using
    tools/oracle_check.py's own rules; returns {query: error or None}."""
    import sys
    sys.path.insert(0, os.path.join(root, "tools"))
    import duckdb
    import oracle_check
    con = duckdb.connect()
    for t in oracle_check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    written = set(rec["written"])
    for name in sorted({q["name"] for p in rec["passes"] for q in p["queries"]}):
        if name not in written:
            out[name] = "no output written"
        elif name not in oracle:
            out[name] = "no oracle SQL"
        else:
            out[name] = oracle_check.check_one(con, out_dir, name, oracle[name])[0]
    return out


# ---------------------------------------------------------------- results

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _common(rec):
    return {"setup_s": (rec["setup_end_ms"] - rec["launch_ms"]) / 1000.0,
            "peak_rss_mb": rec["peak_rss_mb"]}


def _val(v, unit):
    return {"value": v, "unit": unit}


def batch_result(rec, checks, traced):
    passes = rec["passes"]
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q["total_s"])
    exec_failed = sum(1 for p in passes for q in p["queries"] if "error" in q)
    mismatches = [f"{k}: {v}" for k, v in sorted(checks.items()) if v]
    failures = rec["failures"] + mismatches
    attempted = sum(len(p["queries"]) for p in passes) + len(checks)
    info = {"passes": len(passes), "queries": len(per_query)}
    if not traced:
        m = {**_common(rec),
             "pass_s": _median([p["wall_s"] for p in passes]),
             "op_geomean_ms": 1000.0 * geomean([_median(ts) for ts in per_query.values()])}
        metrics = {k: _val(m[k], u) for k, u in E2E_UNITS.items()}
    else:
        metrics = layer_metrics_batch(rec)
    return {"metrics": metrics, "attempted": attempted,
            "failed": exec_failed + len(mismatches),
            "failures": failures, "info": info}


def _sum(queries, path):
    total = 0.0
    for q in queries:
        v = q
        for k in path:
            v = v.get(k, 0) if isinstance(v, dict) else 0
        total += v or 0
    return total


def layer_metrics_batch(rec):
    """Per-layer sums over one pass, median over passes."""
    cores = rec["cores"]
    rows = []
    for p in rec["passes"]:
        qs = p["queries"]
        stages = _sum(qs, ["build", "stages"]) + _sum(qs, ["exec", "stages"])
        run_s = sum(_sum(qs, [ph, "executor_run_ms"]) for ph in ("build", "exec", "release")) / 1000.0

        def both(key):
            return sum(_sum(qs, [ph, key]) for ph in ("build", "exec", "release"))
        rows.append({
            "build_s": _sum(qs, ["build_s"]),
            "build_jobs": _sum(qs, ["build", "jobs"]),
            "build_stages": _sum(qs, ["build", "stages"]),
            "checkpoint_mb": _sum(qs, ["checkpoint_bytes"]) / MB,
            "persisted_mb": _sum(qs, ["persisted_bytes"]) / MB,
            "input_mb": both("input_bytes") / MB,
            "release_s": _sum(qs, ["release_s"]),
            "plan_s": _sum(qs, ["plan_s"]),
            "exec_s": _sum(qs, ["exec_s"]) - _sum(qs, ["plan_s"]),
            "exec_jobs": _sum(qs, ["exec", "jobs"]),
            "exec_stages": _sum(qs, ["exec", "stages"]),
            "tasks": both("tasks"),
            "s_per_stage": p["wall_s"] / stages if stages else 0.0,
            "executor_run_s": run_s,
            "executor_cpu_s": both("executor_cpu_ms") / 1000.0,
            "gc_s": both("gc_ms") / 1000.0,
            "busy_ratio": busy_ratio(run_s, cores, p["wall_s"]),
            "shuffle_read_mb": both("shuffle_read_bytes") / MB,
            "shuffle_write_mb": both("shuffle_write_bytes") / MB,
            "spill_mb": both("spill_bytes") / MB,
            "traced_pass_s": p["wall_s"],
        })
    m = {k: _median([r[k] for r in rows]) for k in rows[0]}
    m.update(_layer_common(rec))
    m.update({k: 0.0 for k in stream_layer_names()})
    return {k: _val(v, LAYER_UNITS[k]) for k, v in m.items()}


def _layer_common(rec):
    return {"warmup_s": rec["warmup_s"],
            "session_s": (rec["session_ready_ms"] - rec["launch_ms"]) / 1000.0,
            "error_log_events": rec["error_log_events"]}


BATCH_LAYER = {
    "build_s": "s", "build_jobs": "count", "build_stages": "count",
    "checkpoint_mb": "MB", "persisted_mb": "MB", "input_mb": "MB", "release_s": "s", "plan_s": "s",
    "exec_s": "s", "exec_jobs": "count", "exec_stages": "count", "tasks": "count",
    "s_per_stage": "s", "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "busy_ratio": "ratio", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "traced_pass_s": "s"}
COMMON_LAYER = {"warmup_s": "s", "session_s": "s", "error_log_events": "count"}


def stream_layer_names():
    names = {}
    for q in STREAM_QUERIES:
        for k, u in (("epochs", "count"), ("epoch_ms_p50", "ms"), ("epoch_ms_tail", "ms"),
                     ("latency_ms_p50", "ms"), ("latency_ms_tail", "ms"),
                     *((v, "ms") for v in EPOCH_PARTS.values()),
                     ("state_rows", "count"), ("state_mb", "MB"),
                     ("state_commit_ms_p50", "ms")):
            names[f"{q}.{k}"] = u
    names.update({"gen.late_ms_max": "ms", "gen.backlog_rows": "count",
                  "drain_rows_per_s": "rows/s"})
    return names


LAYER_UNITS = {**BATCH_LAYER, **COMMON_LAYER, **stream_layer_names()}


def stream_latencies(rec):
    """Per query: latency (ms) of every open-loop file, from when it was due
    to the end of the epoch that consumed it. Per drain: seconds from the
    earliest start to the latest end of the epochs that consumed it. Also
    the number of (file, query) reads no epoch reached."""
    files = rec["files"]
    rows = [f["rows"] for f in files]
    lat, span, unconsumed = {}, {}, 0
    for q in STREAM_QUERIES:
        eps = sorted(rec["epochs"].get(q, []), key=lambda e: e["batch_id"])
        idx = files_to_epochs(rows, [e["rows"] for e in eps])
        unconsumed += sum(1 for i in idx if i is None)
        lat[q] = [eps[i]["end_ms"] - f["due_ms"] for f, i in zip(files, idx)
                  if f["phase"] == "open" and i is not None]
        for f, i in zip(files, idx):
            if f["phase"].startswith("drain") and i is not None:
                lo, hi = span.get(f["phase"], (math.inf, 0.0))
                span[f["phase"]] = (min(lo, eps[i]["start_ms"]), max(hi, eps[i]["end_ms"]))
    drains = [(hi - lo) / 1000.0 for _, (lo, hi) in sorted(span.items())]
    return lat, drains, unconsumed


def stream_result(rec, traced):
    lat, drains, unconsumed = stream_latencies(rec)
    pooled = [x for q in STREAM_QUERIES for x in lat[q]]
    failures = list(rec["failures"])
    if unconsumed:
        failures.append(f"{unconsumed} file reads never reached an epoch")
    open_files = sum(1 for f in rec["files"] if f["phase"] == "open")
    late = [f["renamed_ms"] - f["due_ms"] for f in rec["files"] if f["phase"] == "open"]
    drain_rows = sum(f["rows"] for f in rec["files"] if f["phase"] == "drain0")
    info = {"latency_samples": len(pooled), "drains": len(drains),
            "gen_late_ms_max": max(late) if late else 0.0}
    attempted = len(rec["files"]) * len(STREAM_QUERIES) + rec["checks"]
    failed = unconsumed + len(rec["failures"])
    if not traced:
        lvl, _ = tail(pooled)
        info["latency_tail_level"] = lvl
        m = {**_common(rec), "pass_s": _median(drains), "op_geomean_ms": geomean(pooled)}
        info["latency_p50_ms"] = nearest_rank(pooled, 0.5)
        metrics = {k: _val(m[k], u) for k, u in E2E_UNITS.items()}
    else:
        m = {k: 0.0 for k in BATCH_LAYER}
        j = rec["jobs"]
        m.update({"exec_jobs": j["jobs"], "exec_stages": j["stages"], "tasks": j["tasks"],
                  "executor_run_s": j["executor_run_ms"] / 1000.0,
                  "executor_cpu_s": j["executor_cpu_ms"] / 1000.0, "gc_s": j["gc_ms"] / 1000.0,
                  "busy_ratio": busy_ratio(j["executor_run_ms"] / 1000.0, rec["cores"],
                                           rec["measured_s"]),
                  "input_mb": j["input_bytes"] / MB,
                  "shuffle_read_mb": j["shuffle_read_bytes"] / MB,
                  "shuffle_write_mb": j["shuffle_write_bytes"] / MB,
                  "spill_mb": j["spill_bytes"] / MB})
        m.update(_layer_common(rec))
        for q in STREAM_QUERIES:
            eps = [e for e in rec["epochs"].get(q, []) if e["rows"] > 0]
            dur = [e["end_ms"] - e["start_ms"] for e in eps]
            last = max(rec["epochs"].get(q, []), key=lambda e: e["batch_id"])
            m[f"{q}.epochs"] = len(eps)
            m[f"{q}.epoch_ms_p50"] = nearest_rank(dur, 0.5)
            m[f"{q}.epoch_ms_tail"] = tail(dur)[1]
            m[f"{q}.latency_ms_p50"] = nearest_rank(lat[q], 0.5)
            m[f"{q}.latency_ms_tail"] = tail(lat[q])[1]
            for part, name in EPOCH_PARTS.items():
                m[f"{q}.{name}"] = nearest_rank([e["parts"].get(part, 0) for e in eps], 0.5)
            m[f"{q}.state_rows"] = last["state_rows"]
            m[f"{q}.state_mb"] = last["state_bytes"] / MB
            m[f"{q}.state_commit_ms_p50"] = nearest_rank([e["state_commit_ms"] for e in eps], 0.5)
        m["gen.late_ms_max"] = info["gen_late_ms_max"]
        m["gen.backlog_rows"] = rec["backlog_rows"]
        m["drain_rows_per_s"] = drain_rows / _median(drains) if drains else 0.0
        metrics = {k: _val(v, LAYER_UNITS[k]) for k, v in m.items()}
    info["open_files"] = open_files
    info["gen_rows"] = rec["gen_rows"]
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "failures": failures, "info": info}
