"""Seeded end-to-end benchmark of the graft query engine.

    python3 perfbench/run.py --workload replay --seed 1 --seconds 5 --trace 0

Run from the repository root. One run: build the program if needed,
generate the workload's tables from the seed, start one JVM at
local[<cores>] that sets up three times, runs one cold pass over
the workload's keys (keeping each result) and warm passes (at least
two, more until they add up to `--seconds`), then check every kept
result against the key's DuckDB oracle. The last line of stdout is one
JSON object with the end-to-end metrics (`--trace 0`) or the per-layer
metrics (`--trace 1`).

Everything a run writes goes under `<build>/runs/<run id>/`; the run's
record (`result.json`, and `trace.json` when traced) stays there, the
generated tables and outputs are deleted. See NOTES.md for why each
workload exists and which layer metric should move which end-to-end one.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import trace  # noqa: E402

WORKLOADS = {
    # Scaffold-bound bounded replay: per-trigger planning, WAL/commit,
    # state-store I/O and staging, plus the view maintainer's versioned
    # side stores.
    "replay": [
        "stream_perkey_wm_replay",   # RocksDB state, jittered arrival, late drops
        "stream_join_view_replay",   # ViewMaintain join loop: write + compact per step
    ],
    # One-shot batch LLM operators (`operators`/`functions`) on the sf0.01
    # corpus, with no streaming state: the bypass for replay-core changes.
    "llm_batch": [
        "llm_knn_ivf_det", "llm_containment",
        "llm_dedup_ngram_complete", "llm_dedup_fuzzy", "llm_dedup_simhash_banded",
        "llm_tfidf_top",
    ],
}
SETUPS = 3
SMOKE_SCALE = 0.1  # sf0.001 row counts (the generator's scale 1 is sf0.01)
# End-to-end times are reported in seconds of a reference host: each is
# multiplied by REF_CALIB_S / calib_s, where calib_s is the run's own
# host-speed loop (the median of samples before the cold pass, after
# it and after each warm pass, so one disturbed sample does not move
# it). 0.416 s is the reference BASELINE.md fixes for `calib_sec`.
# On a shared 4-core host, single-thread speed drifts by ~20% over
# minutes; the normalisation halves the run-to-run spread of every time
# metric (perfbench/NOTES.md, "Steadiness").
REF_CALIB_S = 0.416
TIME_METRICS = ("setup_s", "cold_pass_s", "wall_s", "key_geomean_s")
DEADLINE_S = 170
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def steal_jiffies():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def end_to_end(raw, verdict, calib):
    passes = raw["passes"]
    cold = passes[0]
    warm = [p for p in passes if p["name"].startswith("warm")]
    keys = [k["key"] for k in cold["keys"]]
    runs = [k for p in [cold] + warm for k in p["keys"]]
    failed = sum(1 for k in runs if k["error"]) + sum(
        1 for k in cold["keys"] if not k["error"] and verdict[k["key"]])
    per_key = {key: statistics.median(
        k["build_s"] + k["plan_s"] + k["exec_s"]
        for p in warm for k in p["keys"] if k["key"] == key) for key in keys}
    metrics = {
        "setup_s": (statistics.median(s["total_s"] for s in raw["setups"]), "s"),
        "cold_pass_s": (cold["wall_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "key_geomean_s": (geomean(per_key.values()), "s"),
        "ok_frac": (1.0 - failed / len(runs), "frac"),
        "peak_rss_mb": (raw["vm_hwm_kb"] / 1024 + raw["shm_peak_bytes"] / 2**20, "MB"),
    }
    measured = dict(metrics)
    for k in TIME_METRICS:
        metrics[k] = (metrics[k][0] * REF_CALIB_S / calib, "s")
    return metrics, measured, len(runs), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 tables, one set-up, two warm passes")
    a = ap.parse_args()
    keys = WORKLOADS[a.workload]
    scale = SMOKE_SCALE if a.smoke else 1.0
    setups = 1 if a.smoke else SETUPS
    seconds = 0 if a.smoke else a.seconds
    cores = len(os.sched_getaffinity(0))

    classes = build.build()
    t_start = time.time()  # the time limit counts from here: a first run also builds
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(build.build_dir(), "runs", run_id)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    rows = gen.generate(data, a.seed, scale=scale)
    os.makedirs(os.path.join(run_dir, "tmp"))

    t_jvm = time.time()
    steal0, load0 = steal_jiffies(), os.getloadavg()
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/tmp",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-cp", build.classpath(classes), "perfbench.Harness",
        data, run_dir, ",".join(keys), str(cores), str(seconds), str(a.trace), str(setups)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"perfbench: JVM did not finish within {DEADLINE_S} s ({run_dir}/jvm.log)")
    if rc != 0:
        sys.exit(f"perfbench: JVM exited with {rc} ({run_dir}/jvm.log)")
    with open(os.path.join(run_dir, "raw.json")) as f:
        raw = json.load(f)
    host = {"cores": cores, "steal_jiffies": steal_jiffies() - steal0,
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "calib_s": statistics.median(raw["calib_s"]), "calib_samples_s": raw["calib_s"]}

    t_oracle = time.time()
    verdict, digest = oracle.check(data, out, raw["oracle"])
    metrics, measured, attempted, failed = end_to_end(raw, verdict, host["calib_s"])
    if a.trace:
        spans, layer = trace.analyse(raw, a.workload, host)
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            json.dump(spans, f)
        metrics = layer
    host["phases_s"] = {"generate": t_jvm - t_start, "jvm": t_oracle - t_jvm,
                        "oracle_and_trace": time.time() - t_oracle}
    record = {"workload": a.workload, "seed": a.seed, "seconds": seconds, "trace": a.trace,
              "smoke": a.smoke, "rows": rows, "host": host, "oracle": verdict,
              "output_sha1": digest,
              "passes": raw["passes"], "setups": raw["setups"],
              "measured": {k: {"value": v, "unit": u} for k, (v, u) in measured.items()},
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(data)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    for key, why in verdict.items():
        print(f"{'PASS' if why is None else 'FAIL'} {key}{'' if why is None else ': ' + why}")
    for k, (v, u) in measured.items():
        print(f"{a.workload:10s} {k:28s} {v:12.4f} {u}  (as measured)")
    for k, (v, u) in metrics.items():
        print(f"{a.workload:10s} {k:28s} {v:12.4f} {u}")
    print(f"record: {run_dir}/result.json")
    print(json.dumps({
        "correct": all(v is None for v in verdict.values()) and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
