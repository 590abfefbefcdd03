#!/usr/bin/env python3
"""The repository's benchmark: one command per workload.

    python3 apmbench/run.py --workload <stream_live|batch_mix> --seed <n>
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
JVM driver (apmbench/build.sbt) from the checkout's sources; later runs
reuse the build while the sources are unchanged. Inputs are generated
from the seed. The driver (apmbench.Main) runs the workload and writes
raw measurements; this script checks every output, derives the metrics,
prints them by name with their units, and prints as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the run is
traced and the metrics are the per-layer ones. See apmbench/NOTES.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402

WORKLOADS = ("stream_live", "batch_mix")
WORK = os.path.join(ROOT, ".apmbench_work")
# A run must end within this many seconds, not counting a build.
DEADLINE_S = 170.0
JVM_HEAP = "2g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
STAGES = ("stage1", "stage2", "stage3", "stage4")
PROGRESS_KEYS = ("batches", "input_rows", "add_batch_ms", "offsets_ms",
                 "commit_ms", "state_commit_ms", "state_rows")
MODULES = ("ApmStats", "ZScore", "Alerts", "Parsing", "Sessionize",
           "Correlation", "Relational", "Dedup", "Similarity",
           "TextAnalysis", "Curation", "Multimodal", "Pca")
MODULE_KEYS = ("wall_s", "driver_s", "planning_s", "tasks", "shuffle_bytes", "gc_s")


def log(msg):
    print(f"[apmbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "main", "**", "*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles program + driver with sbt when the sources changed;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(HERE, "target", "apmbench.classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building program and driver with sbt")
    t0 = time.monotonic()
    out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
                    "compile", "export Runtime/fullClasspath"],
                   cwd=HERE, env=sbt_env(), timeout=850)
    cp = [ln for ln in out.splitlines() if "scala-2.13" + os.sep + "classes" in ln]
    if not cp:
        sys.stderr.write(out[-4000:])
        fail("sbt build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp[-1].strip())
    log(f"built in {time.monotonic() - t0:.1f} s")
    return cp[-1].strip()


def run_proc(cmd, cwd, env, timeout, stdout_path=None):
    """Runs `cmd` in its own process group; kills the whole group and
    waits for it on timeout. Returns stdout (or "" when it goes to a file)."""
    out = open(stdout_path, "w") if stdout_path else subprocess.PIPE
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        text, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout:.0f} s")
    finally:
        if stdout_path:
            out.close()
    if p.returncode != 0:
        if stdout_path:
            with open(stdout_path) as fh:
                text = fh.read()
        sys.stderr.write((text or "")[-6000:])
        fail(f"{cmd[0]} exited with {p.returncode}")
    return text or ""


# ---------------------------------------------------------------- sinks

def local_path(uri):
    return urllib.parse.unquote(urllib.parse.urlparse(uri).path)


def mtime_us(path):
    return os.stat(path).st_mtime_ns // 1000


def stats_sink_rows(sink):
    """(ts_ms, commit_us) per row of a file-sink directory. A file's rows
    become visible when the `_spark_metadata` entry that first lists it is
    written."""
    import pyarrow.parquet as pq
    meta = os.path.join(sink, "_spark_metadata")
    batches = []
    for name in os.listdir(meta):
        if not name.startswith("."):
            batches.append((int(name.split(".")[0]), os.path.join(meta, name)))
    seen, rows = set(), []
    for _, path in sorted(batches):
        commit = mtime_us(path)
        with open(path) as fh:
            lines = fh.read().splitlines()[1:]
        for ln in lines:
            f = local_path(json.loads(ln)["path"])
            if f in seen:
                continue
            seen.add(f)
            t = pq.read_table(f, columns=["server", "ts_ms"]).to_pydict()
            rows += [(ts, commit) for s, ts in zip(t["server"], t["ts_ms"]) if s != "zz"]
    return rows


def alert_sink_rows(sink):
    """(ts_ms, commit_us) per alert row; each batch directory is visible
    once its _SUCCESS marker is written."""
    import pyarrow.parquet as pq
    rows = []
    for d in sorted(glob.glob(os.path.join(sink, "batch_*"))):
        ok = os.path.join(d, "_SUCCESS")
        if not os.path.exists(ok):
            continue
        commit = mtime_us(ok)
        for f in glob.glob(os.path.join(d, "*.parquet")):
            t = pq.read_table(f, columns=["ts_ms"]).to_pydict()
            rows += [(ts, commit) for ts in t["ts_ms"]]
    return rows


# ---------------------------------------------------------------- oracle

def canon(rows, cols):
    """Sorts columns by name and rows by value, NaN as a string: the
    canonical form tools/check.py compares, kept here so the benchmark does
    not depend on a development tool."""
    import math
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def oracle_check(data_dir, out_dir, queries):
    """Each query's Spark output against its DuckDB oracle; returns
    {query: None | reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    verdict = {}
    for q in queries:
        sql = oracles.get(q)
        spark_dir = os.path.join(out_dir, q)
        if sql is None:
            verdict[q] = "no oracle SQL"
            continue
        if not glob.glob(os.path.join(spark_dir, "*.parquet")):
            verdict[q] = "no Spark output"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
            gcols, grows = got.columns, got.fetchall()
            exp = con.sql(sql)
            ecols, erows = exp.columns, exp.fetchall()
            gdt = got.df().reindex(sorted(gcols), axis=1).dtypes
            edt = exp.df().reindex(sorted(ecols), axis=1).dtypes
        except Exception as e:  # an oracle that fails to run is a failed check
            verdict[q] = f"error: {e}"
            continue
        drift = [c for c in gdt.index if c in edt.index and gdt[c] != edt[c]]
        if sorted(c.lower() for c in gcols) != sorted(c.lower() for c in ecols):
            verdict[q] = f"schema {sorted(gcols)} vs {sorted(ecols)}"
        elif drift:
            verdict[q] = f"dtype drift in {drift}"
        elif len(grows) != len(erows):
            verdict[q] = f"rows {len(grows)} vs {len(erows)}"
        elif canon(grows, gcols) != canon(erows, ecols):
            verdict[q] = "values differ"
        else:
            verdict[q] = None
    return verdict


# ---------------------------------------------------------------- metrics

def progress_stage(rec):
    """Which graph stage a streaming progress record belongs to, from the
    directory its source reads (`FileStreamSource[<path>]`)."""
    src = rec["source"].rstrip("]")
    if "/net/" in src:
        return "stage1"
    topic = src.rsplit("/", 1)[-1]
    return {"stats": "stage2", "zscore": "stage3", "fired": "stage4"}.get(topic)


def progress_ms(rec):
    ts = rec["timestamp"].replace("Z", "+00:00")
    from datetime import datetime
    return datetime.fromisoformat(ts).timestamp() * 1000.0


def stage_progress(records, lo_ms, hi_ms):
    """Sums progress counters per stage over records whose trigger began
    in [lo_ms, hi_ms); state_rows is the last total seen."""
    out = {s: {k: 0.0 for k in PROGRESS_KEYS} for s in STAGES}
    for r in sorted(records, key=progress_ms):
        s = progress_stage(r)
        if s is None or not (lo_ms <= progress_ms(r) < hi_ms):
            continue
        o = out[s]
        o["batches"] += 1
        for k in ("input_rows", "add_batch_ms", "offsets_ms", "commit_ms", "state_commit_ms"):
            o[k] += r[k]
        o["state_rows"] = r["state_rows"]
    return out


def stream_metrics(raw):
    gen = raw["generator"]
    lateness = raw["lateness_ms"]
    stats = M.row_delays(stats_sink_rows(os.path.join(raw["graph"], "stats")),
                         gen, lateness, raw["closing_start_us"])
    alerts = M.row_delays(alert_sink_rows(os.path.join(raw["graph"], "alerts")),
                          gen, lateness, raw["closing_start_us"])
    if not stats[0]:
        fail("stream_live produced no stats-row delay samples")
    sd = M.summary(stats[0])
    # Alerts are rarer; a seed whose live window fires none reports 0.
    ad = M.summary(alerts[0]) if alerts[0] else {"p50": 0.0, "tail": 0.0, "tail_q": 0.5, "n": 0}
    drain = raw["drains"][1]
    live_cycles = [c for c in raw["cycles"] if not c["tail"]]
    cycle_s = [(c["end_us"] - c["start_us"]) / 1e6 for c in live_cycles]
    late_s = [(f["visible_us"] - f["due_us"]) / 1e6 for f in gen]
    late_writes = sum(1 for x in late_s if x * 1e6 > raw["period_us"])
    checks = raw["checks"]
    attempted = sum(c["attempted"] for c in checks) + len(gen)
    failed = sum(c["failed"] for c in checks) + late_writes
    e2e = {
        "setup_s": (raw["setup_s"], "s"),
        "cpu_s": (drain["cpu_s"] + raw["cpu_timed_s"], "s"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
        "latency_s": (sd["p50"], "s"),
        "tail_latency_s": (sd["tail"], "s"),
        "throughput_per_s": (raw["lines"] / drain["wall_s"], "1/s"),
    }
    notes = [
        f"stats-row delay: p50 {sd['p50']:.3f} s, p{100 * sd['tail_q']:.1f} "
        f"{sd['tail']:.3f} s over n={sd['n']} rows ({stats[1]} only in the closing drain)",
        f"alert delay: p50 {ad['p50']:.3f} s, p{100 * ad['tail_q']:.1f} "
        f"{ad['tail']:.3f} s over n={ad['n']} alerts ({alerts[1]} only in the closing drain)",
        f"live: {len(live_cycles)} cycles at {raw['rate_lines_per_s']:.0f} lines/s, "
        f"{late_writes} late generator writes",
        f"backfill: {raw['lines']} lines in {drain['wall_s']:.2f} s "
        f"(cold first drain {raw['warmup_s']:.2f} s)",
    ] + [f"check {i}: {c}" for i, c in enumerate(checks)]
    layers = {}
    if raw.get("progress") is not None:
        lo = raw["start_us"] / 1000.0
        hi = raw["closing_start_us"] / 1000.0
        prog = stage_progress(raw["progress"], lo, hi)
        n = max(1, len(live_cycles) + len([c for c in raw["cycles"] if c["tail"]]))
        for s in STAGES:
            calls = [c["stages_s"][s] for c in live_cycles]
            layers[f"live.{s}.call_s"] = (M.quantile(calls, 0.5), "s")
            for k in PROGRESS_KEYS:
                v = prog[s][k] if k == "state_rows" else prog[s][k] / n
                unit = "ms" if k.endswith("_ms") else "count"
                layers[f"live.{s}.{k}"] = (v, unit)
        d = raw["ops"]
        span = [o for o in d if o["op"] == "drain1"][0]
        bprog = stage_progress(raw["progress"], span["start_ms"], span["end_ms"] + 1)
        for s in STAGES:
            layers[f"backfill.{s}.call_s"] = (drain["stages_s"][s], "s")
            layers[f"backfill.{s}.add_batch_ms"] = (bprog[s]["add_batch_ms"], "ms")
        layers["cycle.p50_s"] = (M.quantile(cycle_s, 0.5), "s")
        layers["cycle.growth_s"] = (M.growth(cycle_s), "s")
        layers["gen.late_s_max"] = (max(late_s), "s")
        layers["backlog.max_lines"] = (max(M.backlogs(
            [c["lines_visible_at_start"] for c in raw["cycles"]])), "count")
        layers["alert_delay_p50_s"] = (ad["p50"], "s")
        layers["alert_delay_tail_s"] = (ad["tail"], "s")
        layers["warmup_s"] = (raw["warmup_s"], "s")
    return e2e, layers, attempted, failed, notes


def batch_metrics(raw, data_dir):
    execs = raw["execs"]
    queries = [q for qs in raw["modules"].values() for q in qs]
    verdict = oracle_check(data_dir, raw["outputs"], queries)
    for q, err in raw["warm_errors"].items():
        verdict[q] = f"error: {err}"
    exec_errors = [e for e in execs if e["error"]]
    attempted = len(queries) + len(execs)
    failed = sum(1 for v in verdict.values() if v) + len(exec_errors)
    by_q = {q: [e for e in execs if e["query"] == q] for q in queries}
    med = {q: M.quantile([e["wall_s"] for e in by_q[q]], 0.5) for q in queries}
    med_cpu = {q: M.quantile([e["cpu_s"] for e in by_q[q]], 0.5) for q in queries}
    total = sum(med.values())
    e2e = {
        "setup_s": (raw["setup_s"], "s"),
        "cpu_s": (sum(med_cpu.values()), "s"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
        "latency_s": (M.geomean(list(med.values())), "s"),
        "tail_latency_s": (M.slow_quarter_mean(list(med.values())), "s"),
        "throughput_per_s": (len(queries) / total, "1/s"),
    }
    passes = 1 + max(e["pass"] for e in execs)
    notes = [f"{len(queries)} queries x {passes} timed passes; query_total_s {total:.3f}",
             f"oracle mismatches: {{{', '.join(f'{q}: {v}' for q, v in verdict.items() if v)}}}"]
    notes += [f"  {q:22s} {med[q]:7.3f} s  cpu {med_cpu[q]:7.3f} s" for q in queries]
    layers = {}
    if any("jobs_ms" in o for o in raw["ops"]):
        per_q = {}
        for q in queries:
            ops = [o for o in raw["ops"] if o["kind"] == "query" and o["op"] == q]
            per_q[q] = {
                "wall_s": M.quantile([o["wall_s"] for o in ops], 0.5),
                "driver_s": M.quantile([o["wall_s"] - o["jobs_ms"] / 1000.0 for o in ops], 0.5),
                "planning_s": M.quantile([o["planning_ms"] / 1000.0 for o in ops], 0.5),
                "tasks": M.quantile([o["tasks"] for o in ops], 0.5),
                "shuffle_bytes": M.quantile([o["shuffle_bytes"] for o in ops], 0.5),
                "gc_s": M.quantile([o["gc_ms"] / 1000.0 for o in ops], 0.5)}
        for mod, qs in raw["modules"].items():
            for k in MODULE_KEYS:
                unit = "s" if k.endswith("_s") else ("B" if k == "shuffle_bytes" else "count")
                layers[f"{mod}.{k}"] = (sum(per_q[q][k] for q in qs), unit)
        layers["a10_sliding_hist.wall_s"] = (per_q["a10_sliding_hist"]["wall_s"], "s")
        layers["warmup_s"] = (raw["warmup_s"], "s")
    return e2e, layers, attempted, failed, notes


def per_layer_names():
    names = []
    for s in STAGES:
        names.append((f"live.{s}.call_s", "s"))
        names += [(f"live.{s}.{k}", "ms" if k.endswith("_ms") else "count")
                  for k in PROGRESS_KEYS]
    for s in STAGES:
        names += [(f"backfill.{s}.call_s", "s"), (f"backfill.{s}.add_batch_ms", "ms")]
    names += [("cycle.p50_s", "s"), ("cycle.growth_s", "s"), ("gen.late_s_max", "s"),
              ("backlog.max_lines", "count"), ("alert_delay_p50_s", "s"),
              ("alert_delay_tail_s", "s")]
    for mod in MODULES:
        names += [(f"{mod}.{k}", "s" if k.endswith("_s") else
                   ("B" if k == "shuffle_bytes" else "count")) for k in MODULE_KEYS]
    names += [("a10_sliding_hist.wall_s", "s"), ("warmup_s", "s")]
    return names


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--max-files", type=int, default=None,
                    help="stage-1 file admission bound (default: whole backlog)")
    a = ap.parse_args()

    cp = build()
    start = time.monotonic()
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    raw_path = os.path.join(run_dir, "raw.json")
    data_dir = None
    if a.workload == "batch_mix":
        import datagen
        data_dir = os.path.join(WORK, "data", f"seed-{a.seed}")
        datagen.write(a.seed, data_dir)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *[x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-XX:+UseCodeCacheFlushing",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-Dspark.ui.enabled=false",
           "-cp", cp, "apmbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", run_dir,
           "--out", raw_path]
    if data_dir:
        cmd += ["--data", data_dir]
    if a.max_files:
        cmd += ["--max-files", str(a.max_files)]
    left = DEADLINE_S - (time.monotonic() - start) - 15.0
    run_proc(cmd, cwd=ROOT, env=dict(os.environ), timeout=max(30.0, left),
             stdout_path=os.path.join(run_dir, "driver.log"))
    with open(raw_path) as fh:
        raw = json.load(fh)

    if a.workload == "stream_live":
        e2e, layers, attempted, failed, notes = stream_metrics(raw)
    else:
        e2e, layers, attempted, failed, notes = batch_metrics(raw, data_dir)

    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    last = os.path.join(out_dir, f"last-{a.workload}.json")
    for n in notes:
        print(n)
    if a.trace:
        overhead = {}
        if os.path.exists(last):
            with open(last) as fh:
                base = json.load(fh)
            overhead = {k: v[0] - base[k] for k, v in e2e.items() if k in base}
        print("tracing overhead (traced minus last untraced run): " +
              (", ".join(f"{k} {v:+.4f}" for k, v in overhead.items()) or "no untraced run yet"))
        trace = {"workload": a.workload, "seed": a.seed, "traced_e2e": e2e,
                 "overhead": overhead, "layers": layers, "phases_s": raw["phases_s"],
                 "ops": raw.get("ops"),
                 "spans": raw.get("spans"), "progress": raw.get("progress")}
        with open(os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump(trace, fh)
        reported = {n: layers.get(n, (0.0, u)) for n, u in per_layer_names()}
    else:
        with open(last, "w") as fh:
            json.dump({k: v[0] for k, v in e2e.items()}, fh)
        reported = e2e
    for name, (v, unit) in reported.items():
        print(f"{name} = {v:.6g} {unit}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(M.result_line(failed == 0, attempted, failed, reported))


if __name__ == "__main__":
    main()
