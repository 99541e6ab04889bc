"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (perfbench/
build.py), runs one workload in one JVM (perfbench/scala/PerfBench.scala),
checks its outputs, and prints two JSON lines: a report with the workload's
own metrics, layer self times and host context, then the result line
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). Details of each run,
spans included, go to <build dir>/runs/. See perfbench/NOTES.md.
"""
import argparse
import calendar
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ingest", "batch_suite")
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170
MODULES = ("Relational", "Relational2", "Relational3", "Joins", "Aggregates",
           "TimeWindows", "Analytics", "TextAnalysis", "Pipeline", "Dedup",
           "Similarity", "Media")

END_TO_END = {"setup_s": "s", "throughput": "1/s", "latency_ms": "ms"}  # name -> unit


def per_layer_units():
    u = {"log.put_ms": "ms", "log.latest_offset_ms": "ms", "log.bytes_scanned": "count",
         "log.lag_records_max": "count", "log.lag_ms_max": "ms", "log.seqnums_ms": "ms"}
    for q in ("table", "view"):
        u.update({f"{q}.triggers": "count", f"{q}.trigger_ms_p50": "ms",
                  f"{q}.trigger_ms_p90": "ms", f"{q}.planning_ms": "ms",
                  f"{q}.add_batch_ms": "ms", f"{q}.wal_ms": "ms", f"{q}.commit_ms": "ms"})
    u.update({"view.fill_ratio": "ratio", "view.empty_trigger_frac": "ratio",
              "state.rows": "count", "state.mem_bytes": "bytes", "state.rows_updated": "count",
              "view.delta_files": "count", "view.compactions": "count",
              "view.read_not_ready": "count", "table.files": "count", "engine.begin_ms": "ms"})
    for m in MODULES:
        u.update({f"{m}.construct_ms": "ms", f"{m}.construct_jobs": "count",
                  f"{m}.exec_ms": "ms", f"{m}.jobs": "count", f"{m}.stages": "count",
                  f"{m}.shuffle_bytes": "bytes", f"{m}.spill_bytes": "bytes"})
    u.update({"tables.resolve_ms": "ms", "tables.resolve_jobs": "count"})
    return u


PER_LAYER = per_layer_units()


# ------------------------------------------------------------- host context

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]  # total jiffies (user..steal), steal


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_pct(a, b):
    dt = b[0] - a[0]
    return 100.0 * (b[1] - a[1]) / dt if dt > 0 else 0.0


def nproc():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------- JVM

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_cmd(root, classes, work, main_args):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{classes}{os.pathsep}{build.classpath(root)}", "perfbench.PerfBench"] +
            main_args)


def run_jvm(cmd, log_path, limit_s):
    """Runs the JVM in its own process group and waits for it; kills the
    group on timeout, or when this process is told to stop."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        old = {sig: signal.signal(sig, stop) for sig in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for sig, h in old.items():
                signal.signal(sig, h)


# ---------------------------------------------------------------- oracle

def oracle_counts(root, classes, bd):
    """Row count of each query's DuckDB oracle SQL on the benchmark tables,
    cached in the build directory by the hash of the SQL and the data."""
    with open(os.path.join(bd, "classes.stamp")) as f:
        sql_file = os.path.join(bd, f"oracle_sql-{f.read()[:16]}.json")
    if not os.path.exists(sql_file):
        work = os.path.join(bd, "oracle-tmp")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        rc = run_jvm(java_cmd(root, classes, work, ["oracle-sql", sql_file]),
                     os.path.join(work, "log.txt"), RUN_LIMIT_S)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0:
            raise RuntimeError("oracle SQL dump failed")
    sql = json.load(open(sql_file))
    h = hashlib.sha256(json.dumps(sql, sort_keys=True).encode())
    for t in sorted(os.listdir(DATA)):
        h.update(t.encode() + open(os.path.join(DATA, t), "rb").read())
    cache = os.path.join(bd, f"oracle_counts-{h.hexdigest()[:16]}.json")
    if os.path.exists(cache):
        return json.load(open(cache))
    import duckdb
    con = duckdb.connect(config={"threads": 2, "memory_limit": "2GB"})
    for t in sorted(os.listdir(DATA)):
        name = t.rsplit(".", 1)[0]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(DATA, t)}'")
    counts = {q: con.sql(f"SELECT count(*) FROM ({s})").fetchone()[0] for q, s in sql.items()}
    with open(cache, "w") as f:
        json.dump(counts, f)
    return counts


# --------------------------------------------------------------- metrics

def progress_start_ms(p):
    ts = p["timestamp"]  # ISO-8601 UTC trigger start, millisecond precision
    start = calendar.timegm(time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S"))
    return (start + float("0" + ts[19:].rstrip("Z"))) * 1000.0


def progress_end_ms(p):
    return progress_start_ms(p) + p["durationMs"].get("triggerExecution", 0)


def progress_groups(d):
    """Triggers of the stream-table query and of the view queries, from the
    timed drain on (the warm-up engine's queries use the same names)."""
    evs = [p for p in stats.parse_progress(d["progress"])
           if progress_start_ms(p) >= d["begin_start_ms"] - 1]
    table = [p for p in evs if "__table__" in (p.get("name") or "")]
    view = [p for p in evs if (p.get("name") or "").startswith("v_")]
    return table, view


def ingest_report(d):
    """Metrics of the ingest workload: backfill drain rate and visibility,
    then live freshness, view reads and backlog."""
    _, view = progress_groups(d)
    n = int(d["records"])
    drain_end = d["begin_start_ms"] + d["drain_ms"]
    commits = [(progress_end_ms(p) - d["begin_start_ms"], p["numInputRows"])
               for p in view if p["name"] == "v_key" and progress_end_ms(p) <= drain_end + 1]
    window = (d["window_start_ms"], d["timed_end_ms"])
    fresh, unseen = stats.freshness_ms(d["puts"], d["reads"], d["group_size"], window)
    rd = [e - s for s, e, st, _ in d["reads"] if st == "ok" and window[0] <= s and e <= window[1]]
    return {
        "ingest_rps": n / (d["drain_ms"] / 1000.0),
        "drain_cpu_ms_per_1k": d["drain_cpu_ms"] / (n / 1000.0),
        "backfill_visible_p50_ms": stats.visible_after_ms(commits, n, 50),
        "backfill_visible_p90_ms": stats.visible_after_ms(commits, n, 90),
        "freshness_p50_ms": stats.percentile(fresh, 50),
        "freshness_p90_ms": stats.percentile(fresh, 90),
        "freshness_samples": len(fresh),
        "groups_unseen": unseen,
        "view_read_p50_ms": stats.percentile(rd, 50),
        "view_read_p90_ms": stats.percentile(rd, 90),
        "view_reads": len(rd),
        "put_late_ms_max": max(ps - due for _, due, ps, _ in d["puts"]),
        "backlog_records": int(d["backlog_records"]),
        "read_not_ready": int(d["read_not_ready"]),
    }


def batch_report(d, oracle):
    """Suite metrics from the timed passes: a query's time is the median
    over its passes of construct + exec, and the suite's typical query time
    is their geometric mean, which weighs every query alike; every
    execution's row count is checked against the DuckDB oracle. The
    median, not graft.Bench's minimum: the JIT is still compiling through
    the timed passes, so the minimum is mostly the last pass and moves with
    how many passes a run fits (across ten seeds it spread 13-25% where
    the median spread 11-21%)."""
    per_query, bad = {}, []
    for m, n, c_ms, e_ms, rows, err in d["queries"]:
        per_query.setdefault(n, []).append(c_ms + e_ms)
        if err is not None:
            bad.append(f"{n}: {err}")
        elif n in oracle and oracle[n] != rows:
            bad.append(f"{n}: {rows} rows, oracle {oracle[n]}")
    tot = [statistics.median(v) for v in per_query.values()]
    return {"suite_s": sum(tot) / 1000.0, "query_gmean_ms": statistics.geometric_mean(tot),
            "query_p50_ms": stats.percentile(tot, 50),
            "query_p90_ms": stats.percentile(tot, 90), "queries": len(tot),
            "executions": len(d["queries"]),
            "cpu_ms_per_query": d["timed_cpu_ms"] / len(d["queries"]),
            "jit_ms": d["timed_jit_ms"], "gc_ms": d["timed_gc_ms"],
            "oracle_checked": sum(1 for n in per_query if n in oracle)}, bad


def end_to_end(workload, d, rep, launch_s):
    setup = launch_s + statistics.median(d["setup_reps_s"]) + d["warmup_ms"] / 1000.0
    if workload == "ingest":
        return {"setup_s": setup, "throughput": rep["ingest_rps"],
                "latency_ms": rep["freshness_p50_ms"]}
    return {"setup_s": setup, "throughput": rep["queries"] / rep["suite_s"],
            "latency_ms": rep["query_gmean_ms"]}


def per_layer(workload, d):
    """Every per-layer metric; a layer the workload does not run reads 0."""
    out = {k: 0.0 for k in PER_LAYER}
    span_name = {str(s[0]): s[2] for s in d["spans"]}

    if workload == "ingest":
        table, view = progress_groups(d)
        for q, evs in (("table", table), ("view", view)):
            ts = stats.trigger_stats(evs, d["batchsize"], d["shards"])
            for k in ("triggers", "trigger_ms_p50", "trigger_ms_p90", "planning_ms",
                      "add_batch_ms", "wal_ms", "commit_ms"):
                out[f"{q}.{k}"] = ts[k]
            if q == "view":
                out["view.fill_ratio"] = ts["fill_ratio"]
                out["view.empty_trigger_frac"] = ts["empty_trigger_frac"]
        evs = table + view
        out["log.put_ms"] = stats.percentile([e - s for _, _, s, e in d["puts"]], 50)
        out["log.latest_offset_ms"] = stats.percentile(
            [p["durationMs"].get("latestOffset", 0) for p in evs], 50) or 0.0
        out["log.bytes_scanned"] = int(d["bytes_scanned"]) / max(len(evs), 1)
        lag = d.get("lag_polls") or []
        out["log.lag_records_max"] = max([x[1] for x in lag], default=0)
        out["log.lag_ms_max"] = max([x[2] for x in lag], default=0)
        out["log.seqnums_ms"] = stats.percentile([x[3] for x in lag], 50) or 0.0
        last = {}
        for p in view:
            last[p["name"]] = p
        ops = [o for p in last.values() for o in p.get("stateOperators", [])]
        out["state.rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
        out["state.mem_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops)
        out["state.rows_updated"] = sum(o.get("numRowsUpdated", 0)
                                        for p in view for o in p.get("stateOperators", []))
        out["view.delta_files"] = int(d["view_delta_files"])
        out["view.compactions"] = int(d["view_delta_version"])
        out["view.read_not_ready"] = int(d["read_not_ready"])
        out["table.files"] = int(d["table_files"])
        out["engine.begin_ms"] = d["live_begin_ms"]
    else:
        passes = len(d["queries"]) / max(len({q[1] for q in d["queries"]}), 1)
        for m, n, c_ms, e_ms, rows, err in d["queries"]:
            out[f"{m}.construct_ms"] += c_ms / passes
            out[f"{m}.exec_ms"] += e_ms / passes
        timed = (d["timed_start_ms"], d["timed_end_ms"])
        for _, sid, _, _, start, _, nst, _, sh_w, spill in d["jobs"]:
            name = span_name.get(sid, "")
            kind, _, m = name.partition(":")
            if name == "tables.resolve":
                out["tables.resolve_jobs"] += 1
            elif m in MODULES and timed[0] <= start <= timed[1]:
                if kind == "construct":
                    out[f"{m}.construct_jobs"] += 1
                elif kind == "exec":
                    out[f"{m}.jobs"] += 1
                    out[f"{m}.stages"] += nst
                    out[f"{m}.shuffle_bytes"] += sh_w
                    out[f"{m}.spill_bytes"] += spill
        for m in MODULES:
            for k in ("construct_jobs", "jobs", "stages", "shuffle_bytes", "spill_bytes"):
                out[f"{m}.{k}"] /= passes
        out["tables.resolve_jobs"] /= len(d["setup_reps_s"])
        per_rep = {}
        for t, ms in d["tables_resolve"]:
            per_rep.setdefault(t, []).append(ms)
        out["tables.resolve_ms"] = sum(statistics.median(v) for v in per_rep.values())
    return out


def layer_self_times(d):
    """Self time per layer (span name) in ms: spans recorded around each
    call, micro-batch triggers (from progress events) and Spark jobs, each
    job under the span or trigger that launched it."""
    spans = [(int(s[0]), int(s[1]), s[2], s[3], s[4]) for s in d["spans"]]
    nxt = max([s[0] for s in spans], default=0) + 1
    trigger = {}
    for p in stats.parse_progress(d["progress"]):
        end = progress_end_ms(p)
        kind = "trigger.table" if "__table__" in (p.get("name") or "") else "trigger.view"
        spans.append((nxt, 0, kind, end - p["durationMs"].get("triggerExecution", 0), end))
        trigger[(p.get("id"), str(p.get("batchId")))] = nxt
        nxt += 1
    for _, sid, query_id, batch_id, start, end, *_ in d["jobs"]:
        parent = int(sid) if sid else trigger.get((query_id, batch_id))
        if parent and end > 0:
            spans.append((nxt, parent, "spark.job", start, end))
            nxt += 1
    return {k: round(v, 3) for k, v in sorted(stats.self_times(spans).items())}


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        classes = build.build(root)
    except (SystemExit, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 3
    if not os.path.isdir(DATA):
        print(f"perfbench: missing tables {DATA}", file=sys.stderr)
        return 3
    bd = build.build_dir(root)
    oracle = oracle_counts(root, classes, bd) if a.workload == "batch_suite" else {}

    host = {"nproc": nproc(), "load1_before": load1()}
    cpu0 = cpu_times()
    t_launch = time.time()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(bd, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out_file = os.path.join(work, "out.json")
    log_file = os.path.join(bd, "runs", f"{tag}.log")
    os.makedirs(os.path.dirname(log_file), exist_ok=True)
    cmd = java_cmd(root, classes, work, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                   str(host["nproc"]), DATA, work, out_file])
    rc = run_jvm(cmd, log_file, RUN_LIMIT_S - (t_launch - T_PROCESS))
    host["steal_pct"] = steal_pct(cpu0, cpu_times())
    host["load1_after"] = load1()
    d = json.load(open(out_file)) if rc == 0 and os.path.exists(out_file) else None
    if d is not None:
        shutil.copy(out_file, os.path.join(bd, "runs", f"{tag}.out.json"))
    shutil.rmtree(work, ignore_errors=True)
    if d is None:
        print(f"perfbench: JVM run failed (exit {rc}); log: {log_file}", file=sys.stderr)
        return 4

    launch_s = (d["session_ready_ms"] / 1000.0) - t_launch
    errors = list(d["errors"])
    attempted, failed = int(d["attempted"]), int(d["failed"])
    if a.workload == "batch_suite":
        rep, bad = batch_report(d, oracle)
        failed, errors = failed + len(bad), errors + bad
    else:
        rep = ingest_report(d)
        if rep["backlog_records"] > d["shards"] * d["batchsize"]:
            failed += 1
            errors.append(f"backlog {rep['backlog_records']} records at window end")
        if rep["groups_unseen"]:
            failed += rep["groups_unseen"]
            errors.append(f"{rep['groups_unseen']} groups never seen whole")
    e2e = end_to_end(a.workload, d, rep, launch_s)
    host["gc_ms"] = d["gc_ms"]
    host["rss_peak_mb"] = d["rss_peak_kb"] / 1024.0
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "metrics": rep, "host": host, "errors": errors[:20]}
    last_untraced = os.path.join(bd, "runs", f"{a.workload}-last-untraced.json")
    if a.trace:
        metrics = per_layer(a.workload, d)
        report["self_ms"] = layer_self_times(d)
        if os.path.exists(last_untraced):
            base = json.load(open(last_untraced))
            report["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
        with open(os.path.join(bd, "runs", f"{tag}.spans.json"), "w") as f:
            json.dump({"spans": d["spans"], "jobs": d["jobs"], "progress": d["progress"]}, f)
        units = PER_LAYER
    else:
        metrics = e2e
        with open(last_untraced, "w") as f:
            json.dump(e2e, f)
        units = END_TO_END
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
