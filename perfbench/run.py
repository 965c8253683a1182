#!/usr/bin/env python3
"""Run one benchmark workload once and print its metrics.

    python3 perfbench/run.py --workload keys_sf01 --seed 1 --seconds 4 --trace 0

Builds the engine and the harness from source and generates the batch
inputs on first use (sbt, from the checkout this file sits in), runs
the harness JVM for the workload,
checks the results, and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics.
The line before it carries the host context (nproc, loadavg, steal,
versions, source revision). `--record FILE` also saves the full record
(context, both metric sets, per-key profile) as JSON.

Exit status is non-zero, with no result line, when the build or the
run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import metrics as M

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"

# Keys of `keys_sf01`, chosen from the traced profile of every
# registered key (README.md): keys with many Spark jobs per key whose
# warm wall time is mostly driver gap, and one (q_part_layout) whose
# first use pays a layout build.
KEYS_SF01 = ["q_scan_count", "q_text_bpe", "q_filter_subquery", "q_win_ntile",
             "q_drift_kl", "q_part_layout"]

WORKLOADS = ("keys_sf01", "events_stream", "txlog_cdc")

HEAP = "4g"
JVM_TIMEOUT_S = 160
STEAL_FLAG = 0.05


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads: the engine's build and
    sources and the harness's."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", ROOT / "src" / "main", HERE / "project", HERE / "src"):
        if d.is_dir():
            files += [p for p in d.rglob("*")
                      if p.is_file() and "target" not in p.relative_to(d).parts]
    for p in sorted(files):
        if not p.is_file():
            raise SystemExit(f"missing {p.relative_to(ROOT)}: not a full checkout")
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java_cmd(work):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = (TARGET / "classpath.txt").read_text().strip()
    return ["java", *opens, f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"]


def build():
    """Compile the engine and the harness unless this source tree was
    already built; returns the source hash and the key/oracle list."""
    src = source_hash()
    stamp = TARGET / "build.stamp"
    listing = TARGET / "keys.json"
    if stamp.exists() and stamp.read_text() == src and listing.exists():
        return src, json.loads(listing.read_text())
    log("building engine and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("build failed")
    work = HERE / ".work" / f"list-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    try:
        subprocess.run(java_cmd(work) + ["--workload", "list", "--out", str(listing)],
                       check=True, stdout=sys.stderr, stderr=sys.stderr, timeout=120)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp.write_text(src)
    return src, json.loads(listing.read_text())


def inputs():
    """The root of the batch inputs, generated (untimed, in a JVM of
    its own) unless this generator already wrote them. Part of the
    build: the first run in a checkout pays for it, whatever its
    workload."""
    gen = hashlib.sha256((HERE / "src/main/scala/perfbench/Gen.scala").read_bytes())
    root = HERE / ".work" / "inputs" / gen.hexdigest()[:16]
    ready = root / "ready"
    if not ready.exists():
        log("generating the batch inputs")
        work = HERE / ".work" / f"gen-{os.getpid()}"
        (work / "tmp").mkdir(parents=True, exist_ok=True)
        root.mkdir(parents=True, exist_ok=True)
        try:
            subprocess.run(java_cmd(work) + ["--workload", "inputs", "--inputs", str(root),
                                             "--work", str(work)],
                           check=True, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        ready.write_text("")
    return root


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def revision():
    """The git commit of the checkout, or None outside a git checkout."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except OSError:
        return None
    return r.stdout.strip() if r.returncode == 0 else None


# ---------------------------------------------------------------- metrics

def stage_rows(raw, lo, hi, groups=None):
    """Stages whose job started in [lo, hi) and, if given, whose job
    group satisfies `groups`."""
    spark = raw.get("spark") or {}
    jobs = {j["id"]: j for j in spark.get("jobs", [])}
    out = []
    for s in spark.get("stages", []):
        j = jobs.get(s["job"])
        if j is None or s["submit"] is None or s["complete"] is None:
            continue
        if not (lo <= j["start"] < hi):
            continue
        if groups is not None and not groups(j["group"]):
            continue
        out.append(s)
    return out


def jobs_in(raw, lo, hi, groups=None):
    return [j for j in (raw.get("spark") or {}).get("jobs", [])
            if lo <= j["start"] < hi and (groups is None or groups(j["group"]))]


def exec_layer(raw, lo, hi, per=1.0, groups=None):
    """The Spark execution layer over [lo, hi), divided by `per`."""
    st = stage_rows(raw, lo, hi, groups)
    spans = [(s["submit"], s["complete"]) for s in st]
    return {
        "jobs": len(jobs_in(raw, lo, hi, groups)) / per,
        "stages": len(st) / per,
        "tasks": sum(s["tasks"] for s in st) / per,
        "driver_gap_ms": M.driver_gap((lo, hi), spans) / per,
        "critical_path_ms": M.critical_path(st) / per,
        "slack_ms": M.slack(st) / per,
        "task_run_ms": sum(s["run_ms"] for s in st) / per,
        "task_cpu_ms": sum(s["cpu_ms"] for s in st) / per,
        "gc_ms": sum(s["gc_ms"] for s in st) / per,
        "input_bytes": sum(s["input_bytes"] for s in st) / per,
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in st) / per,
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in st) / per,
        "spill_bytes": sum(s["spill_bytes"] for s in st) / per,
    }


def phase_exec(raw, start, warm, end):
    """The execution layer of a streaming workload's cold phase
    [start, warm) and timed phase [warm, end), when traced."""
    if not raw.get("spark"):
        return {}
    out = {}
    for name, lo, hi in (("cold", start, warm), ("warm", warm, end)):
        for k, v in exec_layer(raw, lo, hi).items():
            out[f"{name}.exec.{k}"] = v
    return out


def sample_rule(n):
    """How many latency samples a run had and the highest percentile
    with at least ten samples beyond it (None: not even the median)."""
    return {"latency_samples": n, "highest_supported_percentile": M.highest_supported(n)}


def pct_or_none(xs, p):
    return M.percentile(xs, p) if xs else None


def batch_metrics(raw):
    ex = raw["execs"]
    cold = [e for e in ex if e["pass"] == "cold"]
    warm = [e for e in ex if e["pass"].startswith("warm")]
    passes = sorted({e["pass"] for e in warm})
    pass_ms = [sum(e["t_release"] - e["t0"] for e in warm if e["pass"] == p) for p in passes]
    e2e = {
        "setup_s": (raw["setup_end"] - raw["jvm_start"]) / 1000,
        "cold_s": (raw["cold_end"] - raw["setup_end"]) / 1000,
        "latency_ms_p50": M.percentile(pass_ms, 50),
        "latency_ms_p90": M.percentile(pass_ms, 90),
        "throughput_per_s": len(warm) / ((raw["timed_end"] - raw["cold_end"]) / 1000),
    }
    detail = {"warm_pass_ms": pass_ms, **sample_rule(len(pass_ms)),
              "warm_key_ms": {k: [round(e["t_release"] - e["t0"], 1) for e in warm
                                  if e["key"] == k] for k in sorted({e["key"] for e in warm})}}

    def layer(rows, n):
        lay = {"ops.build_ms": sum(e["t_build"] - e["t0"] for e in rows) / n,
               "plan.ms": sum(e["t_plan"] - e["t_build"] for e in rows) / n,
               "core.release_ms": sum(e["t_release"] - e["t_exec"] for e in rows) / n,
               "core.persisted_rdds": sum(e["persisted"] for e in rows) / n}
        return lay

    per_layer = {}
    if raw.get("spark"):
        for name, rows, lo, hi, n in (
                ("cold", cold, raw["setup_end"], raw["cold_end"], 1.0),
                ("warm", warm, raw["cold_end"], raw["timed_end"], float(len(passes)))):
            lay = layer(rows, n)
            lay["ops.build_jobs"] = len(jobs_in(raw, lo, hi, lambda g: g.endswith("|build"))) / n
            for k, v in exec_layer(raw, lo, hi, n).items():
                lay["exec." + k] = v
            for k, v in lay.items():
                per_layer[f"{name}.{k}"] = v
        detail["per_key"] = per_key_profile(raw, cold, warm)
    return e2e, per_layer, detail


def per_key_profile(raw, cold, warm):
    """Layer profile of every key, cold and (per warm pass) warm."""
    prof = {}
    for name, rows in (("cold", cold), ("warm", warm)):
        for e in rows:
            p = prof.setdefault(e["key"], {}).setdefault(name, {
                "n": 0, "wall_ms": 0.0, "build_ms": 0.0, "plan_ms": 0.0,
                "exec_ms": 0.0, "release_ms": 0.0, "jobs": 0, "build_jobs": 0,
                "driver_gap_ms": 0.0, "critical_path_ms": 0.0, "task_run_ms": 0.0})
            tag = f"{e['pass']}|{e['key']}|"
            mine = lambda g: g.startswith(tag)
            st = stage_rows(raw, e["t0"], e["t_release"] + 1, mine)
            p["n"] += 1
            p["wall_ms"] += e["t_release"] - e["t0"]
            p["build_ms"] += e["t_build"] - e["t0"]
            p["plan_ms"] += e["t_plan"] - e["t_build"]
            p["exec_ms"] += e["t_exec"] - e["t_plan"]
            p["release_ms"] += e["t_release"] - e["t_exec"]
            p["jobs"] += len(jobs_in(raw, e["t0"], e["t_release"] + 1, mine))
            p["build_jobs"] += len(jobs_in(raw, e["t0"], e["t_release"] + 1,
                                           lambda g: g == tag + "build"))
            p["driver_gap_ms"] += M.driver_gap((e["t0"], e["t_release"]),
                                               [(s["submit"], s["complete"]) for s in st])
            p["critical_path_ms"] += M.critical_path(st)
            p["task_run_ms"] += sum(s["run_ms"] for s in st)
    for k in prof.values():
        for p in k.values():
            n = p.pop("n")
            for f in p:
                p[f] = round(p[f] / n, 3)
    return prof


def progress_of(raw, query):
    return [p["progress"] for p in (raw.get("progress") or []) if p["query"] == query]


def stream_layer(progress, prefix):
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = lambda k: [p.get("durationMs", {}).get(k, 0) for p in data]
    state = [op for p in data for op in p.get("stateOperators", [])]
    last = {}
    for p in data:
        for i, op in enumerate(p.get("stateOperators", [])):
            last[i] = op
    lat = dur("triggerExecution")
    return {
        f"{prefix}.batches": len(data),
        f"{prefix}.trigger_ms_p50": M.percentile(lat, 50) if lat else 0,
        f"{prefix}.add_batch_ms": sum(dur("addBatch")),
        f"{prefix}.query_planning_ms": sum(dur("queryPlanning")),
        f"{prefix}.get_batch_ms": sum(dur("getBatch")),
        f"{prefix}.wal_commit_ms": sum(dur("walCommit")),
        f"{prefix}.state_rows": sum(op.get("numRowsTotal", 0) for op in last.values()),
        f"{prefix}.state_memory_bytes": sum(op.get("memoryUsedBytes", 0) for op in last.values()),
        f"{prefix}.state_commit_ms": sum(op.get("commitTimeMs", 0) for op in state),
        f"{prefix}.rows_dropped_late": sum(op.get("numRowsDroppedByWatermark", 0) for op in state),
    }


PIPES = ("windowed_agg", "interval_join", "stateful_count")


def events_metrics(raw):
    samples, lags, drained, drain_ms = [], [], 0, 0.0
    growing = []
    backlog_max = 0
    per_pipe_lat = {}
    for p in raw["pipelines"]:
        spans = sorted((s, e, t) for b, t, s, e in p["batches"] if e >= 0)
        mine = []
        for k, (due, sent, n) in enumerate(p["ticks"], start=1):
            t = next((t for s, e, t in spans if s < k <= e), None)
            if t is not None:
                mine.append((t - due, n))
        samples += mine
        per_pipe_lat[p["name"]] = M.weighted_percentile(mine, 50) if mine else 0
        lags += M.lateness(p["ticks"])
        drained += p["drain_events"]
        drain_ms += p["drain_end"] - p["drain_start"]
        growing.append(M.backlog_growing(p["backlog"], sum(n for _, _, n in p["ticks"])))
        backlog_max = max([backlog_max] + [b for _, b in p["backlog"]])
    e2e = {
        "setup_s": (raw["setup_end"] - raw["jvm_start"]) / 1000,
        "cold_s": (max(p["first_commit"] for p in raw["pipelines"])
                   - min(p["start"] for p in raw["pipelines"])) / 1000,
        "latency_ms_p50": M.weighted_percentile(samples, 50),
        "latency_ms_p90": M.weighted_percentile(samples, 90),
        "throughput_per_s": drained / (drain_ms / 1000),
    }
    per_layer = {"gen.lag_ms_p99": M.percentile(lags, 99),
                 "gen.backlog_events": backlog_max}
    primed = max(p["first_commit"] for p in raw["pipelines"])
    done = max(p["drain_end"] for p in raw["pipelines"])
    per_layer.update(phase_exec(raw, raw["setup_end"], primed, done))
    if raw.get("progress") is not None:
        for name in PIPES:
            per_layer.update(stream_layer(progress_of(raw, name), f"stream.{name}"))
            per_layer[f"stream.{name}.latency_ms_p50"] = per_pipe_lat.get(name, 0)
    detail = {**sample_rule(sum(n for _, n in samples)),
              "backlog_growing": growing, "gen_lag_ms_p99": M.percentile(lags, 99)}
    return e2e, per_layer, detail


def cdc_metrics(raw):
    commits = raw["commits"]
    caught = [a for a in raw["applied"] if a["start"] >= raw["loop_end"]]
    ms = lambda kind: [c["end"] - c["start"] for c in commits if kind in (None, c["kind"])]
    e2e = {
        "setup_s": (raw["setup_end"] - raw["jvm_start"]) / 1000,
        "cold_s": (raw["boot_applied"] - raw["setup_end"]) / 1000,
        "latency_ms_p50": M.percentile(ms(None), 50),
        "latency_ms_p90": M.percentile(ms(None), 90),
        "throughput_per_s": sum(a["rows"] for a in caught)
                            / ((raw["caught_up"] - raw["loop_end"]) / 1000),
    }
    per_layer = {
        "txlog.append_ms": raw["boot_commit_ms"],
        "txlog.upsert_ms": pct_or_none(ms("upsert"), 50) or 0,
        "txlog.delete_ms": pct_or_none(ms("delete"), 50) or 0,
        "txlog.files_added": raw["files_added"],
        "txlog.bytes_written": raw["bytes_written"],
        "txlog.versions": len(commits),
        "cdc.batches": len(caught),
        "cdc.apply_ms": sum(a["end"] - a["start"] for a in caught),
        "cdc.feed_rows": sum(a["rows"] for a in caught),
    }
    per_layer.update(phase_exec(raw, raw["setup_end"], raw["boot_applied"], raw["caught_up"]))
    last = max((c["version"] for c in commits), default=0)
    replicated = max((a["max_version"] for a in raw["applied"]), default=0) >= last
    return e2e, per_layer, sample_rule(len(commits)), replicated


# The end-to-end metrics printed (and bounded in BENCHMARK.json). The
# record also keeps latency_ms_p50/p90 and throughput_per_s: on a shared
# 4-vCPU host their run-to-run spread reached 0.25-0.29 (README.md).
E2E = ("setup_s", "cold_s")
UNITS = {"setup_s": "s", "cold_s": "s"}


def per_layer_names():
    """Every per-layer metric, in report order; a layer a workload
    does not reach reports 0."""
    names = []
    for ph in ("cold", "warm"):
        names += [f"{ph}.{k}" for k in ("ops.build_ms", "ops.build_jobs", "plan.ms",
                                        "core.release_ms", "core.persisted_rdds")]
        names += [f"{ph}.exec.{k}" for k in (
            "jobs", "stages", "tasks", "driver_gap_ms", "critical_path_ms", "slack_ms",
            "task_run_ms", "task_cpu_ms", "gc_ms", "input_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")]
    for p in PIPES:
        names += [f"stream.{p}.{k}" for k in (
            "batches", "trigger_ms_p50", "add_batch_ms", "query_planning_ms",
            "get_batch_ms", "wal_commit_ms", "state_rows", "state_memory_bytes",
            "state_commit_ms", "rows_dropped_late", "latency_ms_p50")]
    names += ["gen.lag_ms_p99", "gen.backlog_events"]
    names += ["jvm.peak_rss_mb"]
    names += ["txlog.append_ms", "txlog.upsert_ms", "txlog.delete_ms",
              "txlog.files_added", "txlog.bytes_written",
              "txlog.versions", "cdc.batches", "cdc.apply_ms", "cdc.feed_rows"]
    return names


def layer_unit(name):
    if name.endswith("_ms") or ".ms" in name or "_ms_" in name:
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the full run record here")
    ap.add_argument("--cores", type=int,
                    help="Spark cores (default: all); 1 gives the single-core baseline")
    a = ap.parse_args()

    # a terminated run still stops its JVM (subprocess.run kills the
    # child when the wait is interrupted) and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    src, listing = build()
    root = inputs()
    for d in (HERE / ".work").glob("run-*"):
        if not Path(f"/proc/{d.name[4:]}").exists():
            shutil.rmtree(d, ignore_errors=True)
    ctx = {"nproc": os.cpu_count(), "loadavg_start": loadavg()}
    cpu0 = cpu_times()
    work = HERE / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(raw_path)]
    if a.cores:
        args += ["--cores", str(a.cores)]
    keys = []
    if a.workload == "keys_sf01":
        unknown = set(KEYS_SF01) - set(listing["keys"])
        if unknown:
            raise SystemExit(f"keys not registered: {sorted(unknown)}")
        keys = M.key_order(KEYS_SF01, a.seed)
        args += ["--keys", ",".join(keys), "--inputs", str(root)]
    try:
        with open(work / "jvm.log", "w") as jlog:
            r = subprocess.run(java_cmd(work) + args, stdout=jlog, stderr=jlog,
                               timeout=JVM_TIMEOUT_S)
        if r.returncode != 0 or not raw_path.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            raise SystemExit(f"harness exited with {r.returncode}")
        raw = json.loads(raw_path.read_text())

        attempted = failed = 0
        failures = []
        if a.workload == "keys_sf01":
            e2e, layer, detail = batch_metrics(raw)
            import oracle
            bad = oracle.check(raw["data_dir"], work / "results", keys, listing["oracle"],
                               os.cpu_count(), HERE / ".work" / "oracle")
            for e in raw["execs"]:
                if e["pass"] == "setup":
                    if e["err"]:
                        log(f"warm-up of {e['key']} failed: {e['err']}")
                    continue
                attempted += 1
                why = e["err"] or bad.get(e["key"], "")
                if why:
                    failed += 1
                    failures.append(f"{e['pass']} {e['key']}: {why}")
        elif a.workload == "events_stream":
            e2e, layer, detail = events_metrics(raw)
            if any(detail["backlog_growing"]):
                log("open-loop queue of a pipeline held over 90% of the offered events"
                    " at the end of the loop (backlog_growing in the record)")
            for p in raw["pipelines"]:
                attempted += 1
                if not p["ok"]:
                    failed += 1
                    failures.append(f"{p['name']}: {p['err']}")
        else:
            e2e, layer, detail, replicated = cdc_metrics(raw)
            attempted = len(raw["commits"]) + 1
            if not raw["ok"]:
                failed += 1
                failures.append(raw["err"])
            if not replicated:
                failed += 1
                failures.append("the replica never reached the last commit")
        layer["jvm.peak_rss_mb"] = raw["peak_rss_kb"] / 1024
    finally:
        shutil.rmtree(work, ignore_errors=True)

    cpu1 = cpu_times()
    total = max(1, cpu1[0] - cpu0[0])
    steal = (cpu1[1] - cpu0[1]) / total
    ctx.update({"loadavg_end": loadavg(), "steal_share": round(steal, 4),
                "steal_flag": steal > STEAL_FLAG, "java": raw["java_version"],
                "spark": raw["spark_version"], "revision": revision(),
                "source_sha256": src[:16],
                "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "jvm_cpus": raw["cpus"]})
    if ctx["steal_flag"]:
        log(f"high steal: {steal:.1%} of CPU time was stolen during this run")
    for f in failures:
        log(f"FAIL {f}")
    if a.trace:
        out_metrics = {n: {"value": float(layer.get(n, 0)), "unit": layer_unit(n)}
                       for n in per_layer_names()}
    else:
        out_metrics = {n: {"value": float(e2e[n]), "unit": UNITS[n]} for n in E2E}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": out_metrics}
    if a.record:
        Path(a.record).parent.mkdir(parents=True, exist_ok=True)
        Path(a.record).write_text(json.dumps(
            {"context": ctx, "result": result, "end_to_end": e2e,
             "per_layer": layer, "failures": failures, "detail": detail}, indent=1) + "\n")
    print(json.dumps({"context": ctx}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
