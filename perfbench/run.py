#!/usr/bin/env python3
"""The repository benchmark: runs one workload and prints its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <batch_sweep|lake_dml_mix|mediation_open_loop>
                           --seed <n> --seconds <s> --trace <0|1>

The first run builds the library from this checkout's sources and
prepares the batch tables and their oracle results under `.perfbench/`.
Each run then starts one JVM (`perfbench.Main`) on `local[<nproc>]`, which
writes a raw artifact; this script turns it into metrics, keeps the
artifact under `.perfbench/runs/`, named by workload, seed, core count and
trace flag, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end ones, with `--trace 1` the per-layer ones. It exits 1 when an
output check failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen_data  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
STATE = build.STATE
WORKLOADS = ("batch_sweep", "lake_dml_mix", "mediation_open_loop")
DATA_SEED = 42  # the batch tables are fixed; the seed orders the queries
RUN_LIMIT_S = 170
PANEL_FILE = Path(__file__).resolve().parent / "panel.txt"
JVM_OPTS = [
    # A fixed, pre-touched young generation and a small old one that grows
    # as the program's retained heap needs, with the collector's adaptive
    # sizing off: peak RSS then follows the program's old-generation heap
    # and native memory, not the timing of sizing decisions.
    "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xmn512m", "-Xms640m", "-Xmx3g",
    "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m", "-Xss4m", "-Dspark.ui.enabled=false",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

E2E = {"setup_s": "s", "geomean_ms": "ms", "throughput_per_s": "1/s", "peak_rss_mb": "MB"}


def per_layer_units(cat):
    """Every per-layer metric with its unit, in a fixed order. `cat` is the
    artifact's catalogue of query objects, panel queries, lake ops and rates."""
    u = {f"queries.{o}_s": "s" for o in cat["query_objects"]}
    u.update({f"query.{q}_ms": "ms" for q in cat["panel"]})
    u.update({"spark.analysis_ms": "ms", "spark.optimizer_ms": "ms", "spark.planning_ms": "ms",
              "engine.jobs": "count", "engine.tasks": "count",
              "engine.shuffle_read_bytes": "bytes", "engine.shuffle_write_bytes": "bytes",
              "engine.spill_bytes": "bytes", "engine.gc_ms": "ms", "engine.task_run_ms": "ms",
              "engine.driver_gap_ms": "ms"})
    u.update({"lake.snapshot_ms": "ms", "lake.create_ms": "ms"})
    u.update({f"lake.{op}_ms": "ms" for op in cat["lake_ops"]})
    u.update({"lake.read_p50_ms": "ms", "lake.read_p95_ms": "ms", "lake.write_p50_ms": "ms",
              "lake.write_p95_ms": "ms", "lake.log_versions": "count", "lake.log_files": "count",
              "lake.live_data_files": "count", "lake.write_amp": "ratio",
              "lake.files_rewritten_per_write": "count"})
    u.update({"bus.publish_ms": "ms", "gen.lag_ms": "ms"})
    u.update({f"bus.backlog_rows.r{r}": "rows" for r in cat["rates"]})
    u.update({f"med.latency_p50_ms.r{r}": "ms" for r in cat["rates"]})
    u.update({f"med.latency_p99_ms.r{r}": "ms" for r in cat["rates"]})
    u.update({"med.sustained_rps": "records/s", "stream.batch_p50_ms": "ms",
              "stream.batch_p99_ms": "ms", "stream.batches": "count",
              "stream.rows_per_batch": "rows", "stream.latest_offset_ms": "ms",
              "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
              "stream.wal_commit_ms": "ms", "state.rows_total": "rows",
              "state.memory_bytes": "bytes", "state.commit_ms": "ms", "state.update_ms": "ms",
              "enrich.sends": "count", "enrich.inflight_max": "count", "dedup.dup_ratio": "ratio",
              "sink.rows_out": "rows", "sink.toxic_rows": "rows",
              "fail_ratio": "ratio", "trace.overhead_pct": "%"})
    return u


# ── preparation ──────────────────────────────────────────────────────────

def java(cp, args, timeout, flags=()):
    """Runs `perfbench.Main <args>`; exits with its stderr tail on failure."""
    cmd = ["java"] + JVM_OPTS + list(flags) + ["-cp", cp, "perfbench.Main"] + [str(a) for a in args]
    with subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
                          cwd=ROOT) as p:
        try:
            _, err = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            raise SystemExit(f"perfbench: {args[0]} did not finish within {timeout:.0f} s")
    if p.returncode != 0:
        sys.stderr.write(err[-6000:])
        raise SystemExit(f"perfbench: perfbench.Main {args[0]} failed ({p.returncode})")


def batch_data(cp):
    """Seeded tables, the oracle's results on them and their digests."""
    key = build.source_hash(extra=[PANEL_FILE, Path(gen_data.__file__)]) + f"-{DATA_SEED}"
    d = STATE / "data" / key
    if (d / "expected.json").exists():
        return d
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    for sf in ("0.01", "0.001"):
        gen_data.write(str(d / f"sf{sf}"), float(sf), DATA_SEED)
    java(cp, ["oracle-sql", d / "oracle_sql.json"], timeout=120)
    import duckdb
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events documents "
              "embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/sf0.01/{t}.parquet')")
    (d / "oracle").mkdir()
    for name, sql in json.loads((d / "oracle_sql.json").read_text()).items():
        con.execute(f"COPY ({sql}) TO '{d}/oracle/{name}.parquet' (FORMAT PARQUET)")
    java(cp, ["expected", d / "oracle", d / "expected.json.tmp"], timeout=300)
    os.replace(d / "expected.json.tmp", d / "expected.json")
    return d


def external_busy(seconds=0.5):
    """Share of CPU time other processes used while this one slept."""
    def times():
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return sum(xs), xs[3] + xs[4]
    try:
        t0, i0 = times()
        time.sleep(seconds)
        t1, i1 = times()
        return max(0.0, 1.0 - (i1 - i0) / max(1, t1 - t0))
    except OSError:
        return None


def describe():
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True).stdout.strip() or None
    except OSError:
        commit = None
    try:
        loadavg = Path("/proc/loadavg").read_text().split()[:3]
    except OSError:
        loadavg = None
    return {"nproc": len(os.sched_getaffinity(0)), "jvm_flags": JVM_OPTS, "commit": commit,
            "source_hash": build.source_hash(), "external_cpu_busy": external_busy(),
            "loadavg": loadavg}


# ── metrics ──────────────────────────────────────────────────────────────

def tail(values, q=None):
    """Value at `q`, or at the highest well-sampled percentile."""
    q = q or stats.tail_percentile(len(values)) or 50.0
    return stats.percentile(values, q)


def sum_breakdowns(rows):
    keys = ("analysis_ms", "optimizer_ms", "planning_ms", "jobs", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "gc_ms", "task_run_ms", "driver_gap_ms")
    out = {k: 0.0 for k in keys}
    for r in rows:
        for k in keys:
            out[k] += r.get("breakdown", {}).get(k, 0.0)
    return {("spark." if k in keys[:3] else "engine.") + k: v for k, v in out.items()}


def batch_metrics(a):
    rows = a["queries"]
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query"], []).append(r["ms"])
    med = {q: stats.median(v) for q, v in by_q.items()}
    vals = list(med.values())
    failures = [f"{r['query']} (pass {r['pass']}): got {r['got']} want {r['want']}"
                + (f" [{r['error']}]" if r.get("error") else "") for r in rows if not r["ok"]]
    e2e = {"setup_s": a["jvm_start_to_session_s"] + a["setup_parts_s"]["warmup"],
           "geomean_ms": stats.geomean(vals),
           "throughput_per_s": len(a["catalogue"]["panel"]) / stats.median(a["pass_s"])}
    obj = {r["query"]: r["object"] for r in rows}
    layers = {f"queries.{o}_s": sum(m for q, m in med.items() if obj[q] == o) / 1000.0
              for o in a["catalogue"]["query_objects"]}
    layers.update({f"query.{q}_ms": m for q, m in med.items()})
    passes = sorted({r["pass"] for r in rows})
    per_pass = [sum_breakdowns([r for r in rows if r["pass"] == p]) for p in passes]
    layers.update({k: stats.median([pp[k] for pp in per_pass]) for k in per_pass[0]})
    checks = [breakdown_check(r) for r in rows if r.get("breakdown") and r["ms"] > 500]
    return e2e, layers, len(rows), failures, {"sweep_s": stats.median(a["pass_s"]),
                                               "query_geomean_ms": e2e["geomean_ms"],
                                               "breakdown_checks": checks}


def breakdown_check(r):
    """Planning + job time + driver gap against the traced wall time."""
    b = r["breakdown"]
    parts = b["analysis_ms"] + b["optimizer_ms"] + b["planning_ms"] + b["job_ms"] + b["driver_gap_ms"]
    return {"query": r["query"], "pass": r["pass"], "wall_ms": b["wall_ms"],
            "planning_ms": b["analysis_ms"] + b["optimizer_ms"] + b["planning_ms"],
            "job_ms": b["job_ms"], "driver_gap_ms": b["driver_gap_ms"],
            "sum_over_wall": parts / b["wall_ms"]}


def lake_metrics(a):
    ops = a["ops"]
    ms = [o["ms"] for o in ops]
    reads = [o["ms"] for o in ops if o["rw"] == "read"]
    writes = [o["ms"] for o in ops if o["rw"] == "write"]
    failures = [f"{o['op']} {o['detail']}" for o in ops if not o["ok"]]
    if not a["final_ok"]:
        failures.append("final table differs from the replay model")
    if a["warmup_failures"]:
        failures.append(f"{a['warmup_failures']} warm-up ops differ from the replay model")
    setup = a["setup_parts_s"]
    e2e = {"setup_s": a["jvm_start_to_session_s"] + setup["create_median"] + setup["warmup"],
           "geomean_ms": stats.geomean(ms),
           "throughput_per_s": len(ops) / a["elapsed_s"]}
    layers = {f"lake.{op}_ms": stats.median([o["ms"] for o in ops if o["op"] == op])
              for op in a["catalogue"]["lake_ops"] if any(o["op"] == op for o in ops)}
    lk = a["lake"]
    layers.update({"lake.read_p50_ms": stats.median(reads) if reads else 0.0,
                   "lake.read_p95_ms": tail(reads, 95.0) if reads else 0.0,
                   "lake.write_p50_ms": stats.median(writes) if writes else 0.0,
                   "lake.write_p95_ms": tail(writes, 95.0) if writes else 0.0,
                   "lake.create_ms": a["setup_parts_s"]["create_median"] * 1000.0,
                   "lake.snapshot_ms": stats.median(lk["snapshot_ms"]) if lk["snapshot_ms"] else 0.0,
                   "lake.log_versions": lk["log_versions"], "lake.log_files": lk["log_files"],
                   "lake.live_data_files": lk["live_data_files"], "lake.write_amp": lk["write_amp"],
                   "lake.files_rewritten_per_write": lk["files_rewritten_per_write"]})
    layers.update(sum_breakdowns(ops))
    return e2e, layers, len(ops) + 2, failures, {
        "lake_read_p50_ms": layers["lake.read_p50_ms"], "lake_read_p95_ms": layers["lake.read_p95_ms"],
        "lake_write_p50_ms": layers["lake.write_p50_ms"],
        "lake_write_p95_ms": layers["lake.write_p95_ms"], "lake_ops_per_s": e2e["throughput_per_s"],
        "reads": len(reads), "writes": len(writes)}


LATENCY_LIMIT_MS = 5000.0  # above the ~3 s p99 floor of 1-1.5 s micro-batches
REF_RATE = 1667  # the end-to-end latency's rate; see MediationLoad.StepShares
GENERATOR_LATE_MS = 500.0  # a tenth of the limit: more lateness than this skews the latencies


def mediation_metrics(a):
    steps = a["steps"]
    exp, got = a["expected"], a["got"]
    failures = [f"{k}: got {got[k]} want {exp[k]}" for k in exp if got[k] != exp[k]]
    if not a["drained"]:
        failures.append("pipeline did not drain the published records")
    lag = a["generator_lag_ms"]
    behind = tail(lag, 99.0) > GENERATOR_LATE_MS
    step_stats = []
    for s in steps:
        lat = s["latency_ms"]
        grows = stats.backlog_grows(s["backlog"], s["rate"])
        p99 = tail(lat, 99.0) if lat else float("inf")
        step_stats.append({"rate": s["rate"], "records": len(lat), "p50_ms": stats.median(lat) if lat else None,
                           "p99_ms": p99, "backlog_grows": grows,
                           "backlog_max": max((b for _, b in s["backlog"]), default=0.0),
                           # growth that cannot be measured is judged by latency alone
                           "ok": grows is not True and p99 <= LATENCY_LIMIT_MS})
    sustained = 0
    for st in step_stats:
        if not st["ok"]:
            break
        sustained = st["rate"]
    ref = next(s for s in steps if s["rate"] == REF_RATE)["latency_ms"]
    at_3333 = next(s for s in steps if s["rate"] == 3333)["latency_ms"]
    window_records = sum(len(s["latency_ms"]) for s in steps)
    finish = max(s["last_result_ms"] for s in steps if s["latency_ms"])
    e2e = {"setup_s": a["jvm_start_to_session_s"] + a["setup_parts_s"]["prefill"],
           "geomean_ms": stats.geomean([max(x, 0.001) for x in ref]),
           "throughput_per_s": window_records / (finish - steps[0]["start"]) * 1000.0}
    bt = a["batches"]
    dur = [b["duration_ms"].get("triggerExecution", 0) for b in bt] or [0]

    def dsum(k):
        return float(sum(b["duration_ms"].get(k, 0) for b in bt))
    rows_in = sum(b["dedup_rows"] for b in bt)
    layers = {"bus.publish_ms": stats.median([p["end"] - p["start"] for p in a["publish"]]),
              "gen.lag_ms": tail(lag, 99.0), "med.sustained_rps": float(sustained),
              "stream.batch_p50_ms": stats.median(dur), "stream.batch_p99_ms": tail(dur, 99.0),
              "stream.batches": len(bt),
              "stream.rows_per_batch": stats.median([b["rows"] for b in bt]) if bt else 0.0,
              "stream.latest_offset_ms": dsum("latestOffset"), "stream.add_batch_ms": dsum("addBatch"),
              "stream.query_planning_ms": dsum("queryPlanning"), "stream.wal_commit_ms": dsum("walCommit"),
              "state.rows_total": bt[-1]["state_rows"] if bt else 0,
              "state.memory_bytes": bt[-1]["state_memory_bytes"] if bt else 0,
              "state.commit_ms": float(sum(b["state_commit_ms"] for b in bt)),
              "state.update_ms": float(sum(b["state_update_ms"] for b in bt)),
              "enrich.sends": a["enrich"]["sends"], "enrich.inflight_max": a["enrich"]["inflight_max"],
              "dedup.dup_ratio": 1.0 - sum(b["dedup_sent"] for b in bt) / rows_in if rows_in else 0.0,
              "sink.rows_out": got["rows_out"], "sink.toxic_rows": got["toxic"]}
    for st in step_stats:
        layers[f"bus.backlog_rows.r{st['rate']}"] = st["backlog_max"]
        layers[f"med.latency_p50_ms.r{st['rate']}"] = st["p50_ms"] or 0.0
        layers[f"med.latency_p99_ms.r{st['rate']}"] = st["p99_ms"]
    return e2e, layers, exp["rows_out"] + exp["toxic"], failures, {
        "med_sustained_rps": sustained, "med_latency_p50_ms": stats.median(at_3333),
        "med_latency_p99_ms": tail(at_3333, 99.0), "latency_limit_ms": LATENCY_LIMIT_MS,
        "steps": step_stats, "generator_behind": behind,
        "batches": [{"batch": b["batch"], "rows": b["rows"],
                     "ms": b["duration_ms"].get("triggerExecution", 0),
                     "state_rows": b["state_rows"], "state_commit_ms": b["state_commit_ms"]}
                    for b in bt]}


METRICS = {"batch_sweep": batch_metrics, "lake_dml_mix": lake_metrics,
           "mediation_open_loop": mediation_metrics}


def overhead_pct(workload, cpus, source_hash, traced_throughput):
    """Traced throughput against the median of this tree's untraced runs."""
    base = []
    for p in (STATE / "runs").glob(f"{workload}-s*-c{cpus}-t0-*[0-9].json"):
        try:
            run = json.loads(p.read_text())
            if run["meta"]["source_hash"] == source_hash:
                base.append(run["metrics"]["throughput_per_s"])
        except (KeyError, ValueError):
            continue
    if not base:
        return 0.0
    ref = stats.median(base)
    return (ref - traced_throughput) / ref * 100.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    cp = build.ensure()
    data = batch_data(cp) if args.workload == "batch_sweep" else STATE / "data"
    data.mkdir(parents=True, exist_ok=True)
    meta = describe()
    cpus = meta["nproc"]
    tag = f"{args.workload}-s{args.seed}-c{cpus}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    work = STATE / "work" / tag
    runs = STATE / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    raw = runs / f"{tag}.raw.json"
    # The work directory is left in place: on a disk mounted with online
    # discard, deleting the ~1000 small files of a run takes ~30 s, more
    # than most runs. `rm -rf .perfbench/work` reclaims the space.
    (work / "tmp").mkdir(parents=True)
    # a run that had to build and prepare first may take longer
    prep = time.monotonic() - started
    limit = RUN_LIMIT_S - prep if prep < 10 else RUN_LIMIT_S
    java(cp, [args.workload, args.seed, args.seconds, args.trace, cpus, data, work, raw], limit,
         flags=[f"-Djava.io.tmpdir={work / 'tmp'}"])
    a = json.loads(raw.read_text())
    e2e, layers, attempted, failures, detail = METRICS[args.workload](a)
    e2e["peak_rss_mb"] = a["peak_rss_kb"] / 1024.0
    failed = len(failures)
    layers["fail_ratio"] = failed / attempted
    if args.trace:
        layers["trace.overhead_pct"] = overhead_pct(args.workload, cpus, meta["source_hash"],
                                                    e2e["throughput_per_s"])
    units = E2E if not args.trace else per_layer_units(a["catalogue"])
    chosen = e2e if not args.trace else {k: layers.get(k, 0.0) for k in units}
    metrics = {k: {"value": float(chosen[k]), "unit": u} for k, u in units.items()}
    summary = {"run": tag, "meta": meta, "args": vars(args), "metrics": {k: v["value"] for k, v in metrics.items()},
               "end_to_end": e2e, "layers": layers, "detail": detail, "failures": failures}
    (runs / f"{tag}.json").write_text(json.dumps(summary, indent=1))
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    if detail.get("generator_behind"):
        print(f"perfbench: generator fell behind its schedule (gen.lag_ms p99 > {GENERATOR_LATE_MS} ms)",
              file=sys.stderr)
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1



if __name__ == "__main__":
    sys.exit(main())
