#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

  python3 perfbench/run.py --workload <stream_paced|stream_backlog|batch_mix>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the harness
with sbt (offline); later runs reuse the build. The last stdout line is one
JSON object: correct, attempted, failed and the metrics named in
BENCHMARK.json (end-to-end with --trace 0, per-layer with --trace 1). The
full artifact of each run is written under perfbench/out/runs/.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("stream_paced", "stream_backlog", "batch_mix")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Fingerprint of everything the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, fs in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no graft sources next to perfbench/: run from a graft checkout")
    stamp_file = os.path.join(OUT, "build", "stamp")
    cp_file = os.path.join(OUT, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building graft + harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    cp = [l for l in lines if "scala-library" in l and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def events_jsonl():
    """The events table as one JSON object per line (stream_backlog bodies)."""
    cache = os.path.join(OUT, "cache")
    path = os.path.join(cache, "events.jsonl")
    if not os.path.exists(path):
        import duckdb
        os.makedirs(cache, exist_ok=True)
        tmp = path + ".tmp"
        duckdb.connect().execute(
            f"COPY (SELECT * FROM read_parquet('{DATA}/events.parquet') ORDER BY event_id) "
            f"TO '{tmp}' (FORMAT JSON)")
        os.replace(tmp, path)
    return cache


def untraced_medians(workload, metrics):
    """Medians of this checkout's untraced runs of `workload`, per metric."""
    vals = {m: [] for m in metrics}
    for f in glob.glob(os.path.join(OUT, "runs", f"{workload}-*-t0-*", "artifact.json")):
        try:
            a = json.load(open(f))
        except (OSError, ValueError):
            continue
        if a.get("correct"):
            for m in metrics:
                v = a.get("end_to_end", {}).get(m)
                if isinstance(v, (int, float)):
                    vals[m].append(v)
    return {m: statistics.median(v) for m, v in vals.items() if v}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = build()
    data = events_jsonl() if a.workload == "stream_backlog" else DATA
    run_dir = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}")
    os.makedirs(run_dir)
    # nodelay: without it the fake endpoint's replies wait out delayed ACKs
    # (~40 ms per PutRecords), a cost of the fake and not of graft
    cmd = ["java", "-Xmx1g", "-XX:+UseSerialGC", "-Dsun.net.httpserver.nodelay=true",
           "-cp", cp, "perfbench.Harness", a.workload,
           str(a.seed), str(a.seconds), str(a.trace), run_dir, data,
           os.path.join(HERE, "log4j2.properties"), cp]
    log(f"{a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} -> {run_dir}")
    # own process group: a timeout kills the harness and the system JVM it started
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit("harness timed out")
    results = [l[len("@@result "):] for l in stdout.splitlines() if l.startswith("@@result ")]
    if proc.returncode != 0 or not results:
        raise SystemExit(f"harness failed (exit {proc.returncode}); see {run_dir}/system.log")
    res = json.loads(results[-1])

    if a.workload == "batch_mix":
        sys.path.insert(0, HERE)
        import hashes
        ok = hashes.check(run_dir, res["order"])
        res["hash_check"] = ok
        matched = sum(ok.values())
        res["failed"] = len(ok) - matched
        res["correct"] = res["correct"] and matched == len(ok)
        res["end_to_end"]["intact_share"] = matched / len(ok)
        res["report"]["error_share"] = 1 - matched / len(ok)
    for junk in ("tmp", "warehouse") + tuple(os.path.basename(d) for d in glob.glob(os.path.join(run_dir, "ckpt*"))):
        shutil.rmtree(os.path.join(run_dir, junk), ignore_errors=True)

    e2e = [m["name"] for m in spec["end_to_end"]]
    if a.trace:
        base = untraced_medians(a.workload, e2e)
        res["trace"]["overhead_share"] = {
            m: (res["end_to_end"][m] - base[m]) / base[m] for m in base if base[m]}
        res["trace"]["overhead_note"] = (
            "traced value vs the median of this checkout's untraced runs"
            if base else "no untraced run of this workload in this checkout yet")
    if a.trace:
        for layer, ms in res["trace"].get("self_ms_by_layer", {}).items():
            res["per_layer"][f"{layer}.self_ms"] = ms
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        source = res["per_layer"] if a.trace else res["end_to_end"]
        v = source.get(m["name"], 0.0 if a.trace else None)
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            raise SystemExit(f"metric {m['name']} missing or not finite: {v!r}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    res["metrics"] = metrics
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(res, f, indent=1)
    print("report " + json.dumps({"workload": a.workload, **res["report"]}))
    if a.trace:
        print("trace " + json.dumps({k: res["trace"].get(k) for k in
                                     ("self_ms_by_layer", "overhead_share", "overhead_note")}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
