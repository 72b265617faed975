"""Spans and per-layer metrics from one traced run's raw record.

Spans nest workload -> pass -> key -> build/plan/exec -> trigger -> job
-> stage. A job or trigger belongs to the innermost span whose interval
holds its start: keys run one at a time, and `StreamExecution` replaces
the caller's job group, so time is the only reliable link. Each span
gets its self time: its duration minus the part its children cover.

Per-layer metrics are means per traced warm pass unless named
otherwise; layer names follow the program's modules (see NOTES.md).
"""
import re
import statistics
from datetime import datetime, timezone

VIEW_PHASES = ["seed_snapshot", "seed_view", "staging", "slice", "view", "compact"]
DURATIONS = {"planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
             "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
             "latest_offset_ms": "latestOffset"}
CENSUS = ["exchanges", "sorts", "windows", "smj", "bhj", "bnlj"]


def _iso_ms(s):
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp() * 1000


def _union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _tail(values):
    """(percentile, value): the highest of p50/p90/p99/p99.9 that has at
    least ten samples beyond it."""
    xs = sorted(values)
    best = (50.0, statistics.median(xs)) if xs else (0.0, 0.0)
    for pct in (90.0, 99.0, 99.9):
        if len(xs) * (1 - pct / 100) >= 10:
            best = (pct, xs[min(len(xs) - 1, int(len(xs) * pct / 100))])
    return best


def _view_phase(desc):
    if not desc or not desc.startswith("vm: "):
        return None
    return re.sub(r"^b\d+ ", "", desc[4:]).replace(" ", "_")


class _Spans:
    def __init__(self):
        self.rows = []

    def add(self, name, start, end, parent, **attrs):
        self.rows.append(dict(id=len(self.rows), parent=parent, name=name,
                              start_ms=start, end_ms=end, **attrs))
        return len(self.rows) - 1

    def innermost(self, t, ids):
        hits = [i for i in ids if self.rows[i]["start_ms"] <= t <= self.rows[i]["end_ms"]]
        return max(hits, key=lambda i: self.rows[i]["start_ms"]) if hits else None

    def finish(self):
        kids = {}
        for r in self.rows:
            if r["parent"] is not None:
                kids.setdefault(r["parent"], []).append((r["start_ms"], r["end_ms"]))
        for r in self.rows:
            d = r["end_ms"] - r["start_ms"]
            r["self_ms"] = d - _union(kids.get(r["id"], []), r["start_ms"], r["end_ms"])
        return self.rows


def analyse(raw, workload, host):
    passes = raw["passes"]
    sp = _Spans()
    end_of = lambda p: p["start_ms"] + p["wall_s"] * 1000
    root = sp.add(workload, passes[0]["start_ms"], max(end_of(p) for p in passes), None)
    phase_ids, key_spans = [], []
    for p in passes:
        pid = sp.add(p["name"], p["start_ms"], end_of(p), root, kind="pass")
        for k in p["keys"]:
            t = k["start_ms"]
            kid = sp.add(k["key"], t, t + 1000 * (k["build_s"] + k["plan_s"] + k["exec_s"]),
                         pid, kind="key", error=k["error"])
            key_spans.append((p["name"], k, kid))
            for ph in ("build", "plan", "exec"):
                d = 1000 * k[f"{ph}_s"]
                phase_ids.append(sp.add(ph, t, t + d, kid, kind="phase"))
                t += d
    triggers = []
    for e in raw["progress"]:
        p = e["p"]
        start = _iso_ms(p["timestamp"])
        dur = p["durationMs"].get("triggerExecution", 0)
        tid = sp.add(f"trigger {p['batchId']}", start, start + dur,
                     sp.innermost(start, phase_ids), kind="trigger", run_id=p["runId"])
        triggers.append((tid, p))
    trigger_ids = [t for t, _ in triggers]
    job_span = {}
    for j in raw["jobs"]:
        parent = sp.innermost(j["start_ms"], trigger_ids)
        if parent is None:
            parent = sp.innermost(j["start_ms"], phase_ids)
        job_span[j["id"]] = sp.add(f"job {j['id']}", j["start_ms"], j["end_ms"], parent,
                                   kind="job", desc=j["desc"])
    stage_job = {s: j["id"] for j in raw["jobs"] for s in j["stages"]}
    for s in raw["stages"]:
        sp.add(f"stage {s['id']}", s["start_ms"], s["end_ms"],
               job_span.get(stage_job.get(s["id"])), kind="stage")
    spans = sp.finish()

    # ---- per-layer metrics over the traced warm passes ----
    warm = [p for p in passes if p["name"].startswith("warm")]
    n = len(warm)
    in_warm = lambda t: any(p["start_ms"] <= t <= end_of(p) for p in warm)
    wtrig = [(sp.rows[tid], p) for tid, p in triggers if in_warm(sp.rows[tid]["start_ms"])]
    wjobs = [j for j in raw["jobs"] if in_warm(j["start_ms"])]
    wstages = [s for s in raw["stages"] if in_warm(s["start_ms"])]
    wkeys = [(k, kid) for name, k, kid in key_spans if name.startswith("warm")]
    m = {}

    texec = [p["durationMs"].get("triggerExecution", 0) for _, p in wtrig]
    tail_pct, tail = _tail(texec)
    m["streaming.triggers"] = (len(wtrig) / n, "count")
    m["streaming.trigger_p50_ms"] = (statistics.median(texec) if texec else 0.0, "ms")
    m["streaming.trigger_tail_ms"] = (tail, "ms")
    m["streaming.trigger_tail_pct"] = (tail_pct, "pct")
    for name, field in DURATIONS.items():
        m[f"streaming.{name}"] = (sum(p["durationMs"].get(field, 0) for _, p in wtrig) / n, "ms")
    # a replay key is one whose build ran triggers
    trig_of = {}
    for row, p in wtrig:
        trig_of.setdefault(sp.rows[row["parent"]]["parent"] if row["parent"] is not None
                           else None, []).append(p)
    scaffold = readback = 0.0
    for k, kid in wkeys:
        ts = trig_of.get(kid)
        if ts:
            scaffold += k["build_s"] - sum(p["durationMs"].get("triggerExecution", 0)
                                           for p in ts) / 1000
            readback += k["exec_s"]
    m["streaming.scaffold_s"] = (scaffold / n, "s")
    m["streaming.readback_s"] = (readback / n, "s")
    last = {}
    for _, p in wtrig:
        last[p["runId"]] = p
    ops = lambda p: p.get("stateOperators") or []
    m["streaming.state_rows"] = (sum(o["numRowsTotal"] for p in last.values()
                                     for o in ops(p)) / n, "count")
    m["streaming.state_mem_mb"] = (sum(o["memoryUsedBytes"] for p in last.values()
                                       for o in ops(p)) / n / 2**20, "MB")
    m["streaming.state_commit_ms"] = (sum(o["commitTimeMs"] for _, p in wtrig
                                          for o in ops(p)) / n, "ms")
    m["streaming.rows_dropped_late"] = (sum(o.get("numRowsDroppedByWatermark", 0)
                                            for _, p in wtrig for o in ops(p)) / n, "count")

    view = {ph: 0.0 for ph in VIEW_PHASES}
    vjobs = 0
    for j in wjobs:
        ph = _view_phase(j["desc"])
        if ph is not None:
            vjobs += 1
            view[ph] = view.get(ph, 0.0) + (j["end_ms"] - j["start_ms"]) / 1000
    for ph in VIEW_PHASES:
        m[f"view.{ph}_s"] = (view[ph] / n, "s")
    m["view.jobs"] = (vjobs / n, "count")

    total = lambda f: sum(s[f] for s in wstages) / n
    wall = statistics.median(p["wall_s"] for p in warm)
    m["operators.cpu_s"] = (total("cpu_ns") / 1e9, "s")
    m["operators.run_s"] = (total("run_ms") / 1e3, "s")
    m["operators.gc_s"] = (total("gc_ms") / 1e3, "s")
    m["operators.tasks"] = (total("tasks"), "count")
    m["operators.cpu_util"] = (total("cpu_ns") / 1e9 / (wall * raw["cores"]), "frac")
    m["spark.jobs"] = (len(wjobs) / n, "count")
    m["spark.stages"] = (len(wstages) / n, "count")
    m["spark.shuffle_write_mb"] = (total("shuffle_write_b") / 2**20, "MB")
    m["spark.shuffle_read_mb"] = (total("shuffle_read_b") / 2**20, "MB")
    m["spark.spill_mb"] = (total("spill_b") / 2**20, "MB")
    m["spark.output_mb"] = (total("output_b") / 2**20, "MB")
    m["spark.task_failures"] = (raw["task_failures"], "count")

    m["queries.build_s"] = (sum(k["build_s"] for k, _ in wkeys) / n, "s")
    m["queries.plan_s"] = (sum(k["plan_s"] for k, _ in wkeys) / n, "s")
    for c in CENSUS:
        m[f"queries.{c}"] = (sum(v[c] for v in raw["census"].values()), "count")
    jobs_iv = [(j["start_ms"], j["end_ms"]) for j in wjobs]
    no_job = 0.0
    for _, kid in wkeys:
        r = sp.rows[kid]
        no_job += (r["end_ms"] - r["start_ms"] - _union(jobs_iv, r["start_ms"], r["end_ms"])) / 1000
    m["driver.no_job_s"] = (no_job / n, "s")

    setups = raw["setups"]
    m["setup.session_s"] = (statistics.median(s["session_s"] for s in setups), "s")
    m["setup.warmup_s"] = (statistics.median(s["warmup_s"] for s in setups), "s")
    m["setup.first_s"] = (setups[0]["total_s"], "s")
    by_name = {p["name"]: p for p in passes}
    m["trace.overhead_s"] = (wall - by_name["untraced"]["wall_s"], "s")
    m["baseline.wall_1core_s"] = (by_name["one_core"]["wall_s"], "s")
    m["host.steal_jiffies"] = (host["steal_jiffies"], "count")
    m["host.calib_s"] = (host["calib_s"], "s")
    return spans, m

