#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload short_sql --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) together with the measuring harness (`perfbench/scala`)
against the Spark jars into `perfbench/.build/`; later runs reuse it.
Each run gets its own warehouse, checkpoint, local and temp directories
under `perfbench/.work/` and removes them at exit; its artifact (every
metric, call and span) goes to `perfbench/out/<workload>-seed<n>-trace<t>/`.

`--trace 0` reports the end-to-end metrics, `--trace 1` attaches Spark's
listeners and reports the per-layer metrics. `--smoke` runs at sf0.001
with a tiny stream script. The last stdout line is the result object; the
exit code is non-zero if any operation failed or returned a wrong output.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CONTRACT = os.path.join(ROOT, "BENCHMARK.json")
SPEC = os.path.join(HERE, "workloads.json")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
RUN_LIMIT_S = 170  # the measuring JVM is killed after this long
CONSOLE_ROWS = 10  # rows of the dominant-layer table echoed to stdout

# build.sbt's javaOptions for forked runs (module opens, code cache), with a
# 3 GB heap and no hsperfdata file outside the checkout
JVM_OPTS = ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME)")
    return exe


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {os.path.relpath(engine)}; run from a graft checkout")
    files = []
    for top in (engine, os.path.join(HERE, "scala")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compiles engine + harness once per source content; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + [os.path.join(jars, n) for n in sorted(os.listdir(jars))]:
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    classes = os.path.join(BUILD, h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run([java(), "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                        "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        fail("compilation failed")
    os.rename(tmp, classes)
    print(f"[perfbench] compiled {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(classes, jars, args, work, log_path):
    """Runs the harness and waits for it; kills it on timeout or if this
    process is terminated. Returns its exit code, None on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java()] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.GraftBench"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def wall(c):
    return c["build_s"] + c["exec_s"]


def per_op(calls, stat=median, traced=None, key=wall):
    """`stat` of each operation's warm calls."""
    by_op = {}
    for c in calls:
        if c["pass"] > 0 and c["ok"] and (traced is None or c["traced"] == traced):
            by_op.setdefault(c["op"], []).append(key(c))
    return {op: stat(v) for op, v in by_op.items()}


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals, clipped to [lo, hi]."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s, e = max(s, lo), min(e, hi)
        if e > s:
            segs.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(segs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def end_to_end(raw):
    """The gated metrics, and the ones only the artifact carries (see
    README.md for why each of those is not gated)."""
    calls = raw["calls"]
    meds = per_op(calls, traced=False)
    warm = [wall(c) for c in calls if c["pass"] > 0 and c["ok"] and not c["traced"]]
    first = {}
    for c in calls:
        first.setdefault(c["op"], wall(c))
    m = {
        "setup_s": (median(raw["setup_s"][1:]), "s"),
        "suite_s": (sum(per_op(calls, min, traced=False).values()), "s"),
        "heap_live_mb": (max(p["heap_live_mb"] for p in raw["passes"]), "MB"),
    }
    extra = {"suite_cpu_s": (sum(per_op(calls, min, traced=False, key=lambda c: c["cpu_s"]).values()), "s"),
             "first_setup_s": (raw["setup_s"][0], "s"),
             "suite_median_s": (sum(meds.values()), "s"), "query_p50_s": (median(list(meds.values())), "s"),
             "cold_suite_s": (sum(first.values()), "s"), "call_p90_s": (p90(warm), "s"),
             "peak_rss_mb": (raw["peak_rss_mb"], "MB"), "host_steal_s": (raw["host_steal_s"], "s")}
    cycles = [wall(c) for c in calls if c["op"] == "cycle" and c["pass"] > 0 and c["ok"] and not c["traced"]]
    if cycles:
        extra["stream_rec_per_s"] = (raw["stream_events_per_cycle"] / median(cycles), "1/s")
        extra["batch_p50_ms"] = (median(cycles) * 1000, "ms")
        extra["batch_p90_ms"] = (p90(cycles) * 1000, "ms")
    return m, extra


def wrong_outputs(raw, golden):
    """Query calls whose output differs from the golden fingerprint, and
    the stream's closed windows if any differs from the reference count."""
    wrong = [f"{c['op']} pass {c['pass']}" for c in raw["calls"]
             if c["ok"] and c["op"] != "cycle" and c["fingerprint"] != golden.get(c["op"])]
    windows = raw["fingerprints"].get("closed_windows")
    return wrong + ([] if windows is None or windows.endswith(":0") else ["closed windows"])


def trace_report(raw, spec):
    """Builds the span tree workload > pass > query > build/exec > job >
    stage of the traced passes, then the per-layer metrics, the self time
    per span layer and the dominant-layer table."""
    cores = raw["cores"]
    w0, w1 = raw["workload_span_ms"]
    spans = [{"id": 1, "parent": 0, "name": "workload", "start_ms": w0, "end_ms": w1,
              "workload": raw["workload"]}]

    def add(parent, name, start, end, **attrs):
        spans.append({"id": len(spans) + 1, "parent": parent, "name": name,
                      "start_ms": start, "end_ms": end, **attrs})
        return spans[-1]

    queries, subs, call_of = [], {}, {}
    for p in raw["passes"]:
        if not p["traced"]:
            continue
        pid = add(1, "pass", p["start_ms"], p["end_ms"], p=p["pass"])["id"]
        for c in raw["calls"]:
            if c["pass"] == p["pass"]:
                q = add(pid, "query", c["start_ms"], c["end_ms"], op=c["op"], p=c["pass"], ok=c["ok"])
                call_of[q["id"]] = c
                queries.append(q)
                subs[q["id"]] = (add(q["id"], "build", c["start_ms"], c["exec_start_ms"], op=c["op"]),
                                 add(q["id"], "exec", c["exec_start_ms"], c["end_ms"], op=c["op"]))

    def owner(t, group):
        """The traced call running at time t, preferring one whose name is
        the job group (streaming jobs run under the query's own group)."""
        hits = [q for q in queries if q["start_ms"] - 1 <= t <= q["end_ms"] + 1]
        return next((q for q in hits if q["op"] == group), hits[0] if hits else None)

    job_span, per_call = {}, {q["id"]: {"jobs": [], "stages": [], "plans": []} for q in queries}
    for j in sorted(raw["jobs"], key=lambda j: j["start_ms"]):
        q = owner(j["start_ms"], j["group"])
        parent = 1
        if q is not None:
            per_call[q["id"]]["jobs"].append(j)
            b, e = subs[q["id"]]
            parent = b["id"] if j["start_ms"] < b["end_ms"] else e["id"]
        sid = add(parent, "job", j["start_ms"], j["end_ms"], job=j["job"], group=j["group"])["id"]
        for st in j["stages"]:
            job_span.setdefault(st, (sid, q))
    for st in raw["stages"]:
        jid, q = job_span.get(st["stage"], (1, None))
        add(jid, "stage", st["start_ms"], st["end_ms"],
            **{k: v for k, v in st.items() if k not in ("start_ms", "end_ms")})
        if q is not None:
            per_call[q["id"]]["stages"].append(st)
    for pl in raw["plans"]:
        ends = [pl[k][1] for k in ("planning", "optimization", "analysis") if pl[k][1] > 0]
        q = owner(ends[0], None) if ends else None
        if q is not None:
            per_call[q["id"]]["plans"].append(pl)

    # self time per span layer: duration minus the union of its children
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    self_ms = {}
    for s in spans:
        if s["start_ms"] < 0 or s["end_ms"] < 0:
            continue
        covered = union_ms([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
                           s["start_ms"], s["end_ms"])
        self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"] - covered)

    # per call: partition wall time into tasks / scheduling / planning / driver
    module_of = {q: m for m, qs in spec["modules"].items() for q in qs}
    rows = []
    for q in queries:
        pc = per_call[q["id"]]
        lo, hi = q["start_ms"], q["end_ms"]
        st_iv = [(s["start_ms"], s["end_ms"]) for s in pc["stages"] if s["start_ms"] > 0]
        job_iv = [(j["start_ms"], j["end_ms"]) for j in pc["jobs"]]
        plan_iv = [tuple(p[k]) for p in pc["plans"] for k in ("analysis", "optimization", "planning")
                   if p[k][0] > 0]
        tasks = union_ms(st_iv, lo, hi)
        sched = union_ms(st_iv + job_iv, lo, hi) - tasks
        plan = union_ms(st_iv + job_iv + plan_iv, lo, hi) - tasks - sched
        wall = hi - lo
        c = call_of[q["id"]]
        rows.append({
            "op": c["op"], "pass": c["pass"], "module": module_of.get(c["op"], "stream"),
            "wall_ms": wall, "tasks_ms": tasks, "sched_ms": sched, "plan_ms": plan,
            "driver_ms": max(0.0, wall - tasks - sched - plan),
            "gap_ms": wall - union_ms(job_iv, lo, hi),
            "build_s": c["build_s"], "exec_s": c["exec_s"],
            "jobs": len(pc["jobs"]), "stages": len(pc["stages"]),
            "tasks": sum(s["tasks"] for s in pc["stages"]),
            "task_ms": sum(s["task_ms"] for s in pc["stages"]),
            "cpu_ms": sum(s["cpu_ms"] for s in pc["stages"]),
            "exec_gc_ms": sum(s["gc_ms"] for s in pc["stages"]),
            "shuffle_write": sum(s["shuffle_write_bytes"] for s in pc["stages"]),
            "shuffle_read": sum(s["shuffle_read_bytes"] for s in pc["stages"]),
            "fetch_wait_ms": sum(s["fetch_wait_ms"] for s in pc["stages"]),
            "spill": sum(s["disk_spill_bytes"] for s in pc["stages"]),
            "scan_rows": sum(s["input_rows"] for s in pc["stages"]),
            "scan_bytes": sum(s["input_bytes"] for s in pc["stages"]),
            "analysis_ms": sum(p["analysis"][1] - p["analysis"][0] for p in pc["plans"] if p["analysis"][0] > 0),
            "optimization_ms": sum(p["optimization"][1] - p["optimization"][0] for p in pc["plans"]
                                   if p["optimization"][0] > 0),
            "planning_ms": sum(p["planning"][1] - p["planning"][0] for p in pc["plans"] if p["planning"][0] > 0),
            "executions": len(pc["plans"]),
            "broadcast_bytes": sum(p["broadcast_bytes"] for p in pc["plans"]),
            "compile_ms": c["codegen_compile_ms"], "jvm_gc_ms": c["jvm_gc_ms"],
        })

    # per-layer metrics: per traced warm pass (median over such passes);
    # first-call metrics from the cold pass
    warm_passes = sorted({r["pass"] for r in rows if r["pass"] > 0})
    cold = [r for r in rows if r["pass"] == 0]
    mb = 1024.0 * 1024.0

    def per_pass(fn):
        vals = [fn([r for r in rows if r["pass"] == p]) for p in warm_passes]
        return median(vals) if vals else 0.0

    def tot(key, scale=1.0):
        return lambda rs: sum(r[key] for r in rs) / scale

    layers = {
        "plan.analysis_ms": (per_pass(tot("analysis_ms")), "ms"),
        "plan.optimization_ms": (per_pass(tot("optimization_ms")), "ms"),
        "plan.planning_ms": (per_pass(tot("planning_ms")), "ms"),
        "plan.executions": (per_pass(tot("executions")), "count"),
        "sched.jobs": (per_pass(tot("jobs")), "count"),
        "sched.stages": (per_pass(tot("stages")), "count"),
        "sched.tasks": (per_pass(tot("tasks")), "count"),
        "sched.jobs_per_query": (per_pass(lambda rs: sum(r["jobs"] for r in rs) / max(1, len(rs))), "count"),
        "driver.gap_ms": (per_pass(tot("gap_ms")), "ms"),
        "jvm.gc_ms": (per_pass(tot("jvm_gc_ms")), "ms"),
        "exec.task_ms": (per_pass(tot("task_ms")), "ms"),
        "exec.cpu_ms": (per_pass(tot("cpu_ms")), "ms"),
        "exec.gc_ms": (per_pass(tot("exec_gc_ms")), "ms"),
        "exec.busy_ratio": (per_pass(lambda rs: sum(r["task_ms"] for r in rs) /
                                     max(1e-9, cores * sum(r["wall_ms"] for r in rs))), "ratio"),
        "shuffle.write_mb": (per_pass(tot("shuffle_write", mb)), "MB"),
        "shuffle.read_mb": (per_pass(tot("shuffle_read", mb)), "MB"),
        "shuffle.fetch_wait_ms": (per_pass(tot("fetch_wait_ms")), "ms"),
        "spill.disk_mb": (per_pass(tot("spill", mb)), "MB"),
        "codegen.compile_ms": (sum(r["compile_ms"] for r in cold), "ms"),
        "cold.suite_s": (sum({r["op"]: r["wall_ms"] for r in reversed(cold)}.values()) / 1000, "s"),
        "scan.rows": (per_pass(tot("scan_rows")), "count"),
        "scan.mb": (per_pass(tot("scan_bytes", mb)), "MB"),
        "broadcast.mb": (per_pass(tot("broadcast_bytes", mb)), "MB"),
    }
    for mod in spec["modules"]:
        of = [r for r in rows if r["module"] == mod]
        layers[f"{mod}.build_s"] = (per_pass(lambda rs: sum(r["build_s"] for r in rs if r["module"] == mod)), "s")
        layers[f"{mod}.exec_s"] = (per_pass(lambda rs: sum(r["exec_s"] for r in rs if r["module"] == mod)), "s")
        layers[f"{mod}.first_build_s"] = (sum(r["build_s"] for r in of if r["pass"] == 0), "s")

    prog = raw["stream_progress"]
    ticks = {p: [s for s in spans if s["name"] == "pass" and s["p"] == p] for p in warm_passes}

    def stream_pass(fn):
        vals = []
        for p in warm_passes:
            if not ticks[p]:
                continue
            lo, hi = ticks[p][0]["start_ms"], ticks[p][0]["end_ms"]
            evs = [e for e in prog if lo <= _epoch_ms(e["timestamp"]) <= hi]
            if evs:
                vals.append(fn(evs))
        return median(vals) if vals else 0.0

    def dur(key):
        return lambda evs: float(sum(e["duration_ms"].get(key, 0) for e in evs))

    layers.update({
        "stream.add_batch_ms": (stream_pass(dur("addBatch")), "ms"),
        "stream.planning_ms": (stream_pass(dur("queryPlanning")), "ms"),
        "stream.wal_commit_ms": (stream_pass(dur("walCommit")), "ms"),
        "stream.commit_offsets_ms": (stream_pass(dur("commitOffsets")), "ms"),
        "stream.state_rows": (stream_pass(lambda evs: float(max(e["state_rows"] for e in evs))), "count"),
        "stream.state_mb": (stream_pass(lambda evs: max(e["state_bytes"] for e in evs) / mb), "MB"),
        "stream.data_batch_ratio": (stream_pass(lambda evs: sum(1 for e in evs if e["input_rows"] > 0) / len(evs)),
                                    "ratio"),
    })
    traced_suite = sum(per_op(raw["calls"], min, traced=True).values())
    untraced_suite = sum(per_op(raw["calls"], min, traced=False).values())
    layers["trace.overhead_s"] = (traced_suite - untraced_suite, "s")

    # dominant layer per operation, medians over the traced warm calls
    by_op = {}
    for r in rows:
        if r["pass"] > 0:
            by_op.setdefault(r["op"], []).append(r)
    table = []
    for op, rs in by_op.items():
        parts = {k: median([r[k + "_ms"] for r in rs]) for k in ("tasks", "sched", "plan", "driver")}
        wall = median([r["wall_ms"] for r in rs])
        dom = max(parts, key=parts.get)
        table.append({"op": op, "dominant": dom, "share": parts[dom] / wall if wall > 0 else 0.0,
                      "wall_ms": wall, **{k + "_ms": v for k, v in parts.items()}})
    table.sort(key=lambda t: (t["dominant"], -t["wall_ms"]))
    overhead = {"traced_suite_s": traced_suite, "untraced_suite_s": untraced_suite,
                "overhead_s": traced_suite - untraced_suite}
    return layers, {"self_ms": self_ms, "dominant_layers": table, "tracing_overhead": overhead,
                    "per_call": rows}, spans


def _epoch_ms(iso):
    """StreamingQueryProgress timestamps are ISO-8601 UTC strings."""
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp() * 1000


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 tables and a tiny stream script")
    ap.add_argument("--golden", help="golden fingerprint file (default: golden/<scale>.json)")
    ap.add_argument("--make-golden", action="store_true",
                    help="write golden/<scale>.json from every batch query of every workload")
    a = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # unwinds, killing the JVM

    with open(SPEC) as f:
        spec = json.load(f)
    with open(CONTRACT) as f:
        why = {x["name"]: x["why"] for x in json.load(f)["workloads"]}
    scale = spec["smoke_scale"] if a.smoke else spec["scale"]
    data = os.path.join(HERE, "data", scale)
    if not os.path.isdir(data):
        fail(f"input tables missing: {os.path.relpath(data, ROOT)}")
    golden_path = a.golden or os.path.join(HERE, "golden", f"{scale}.json")
    w = spec["workloads"].get(a.workload)
    if (w is None or a.workload not in why) and not a.make_golden:
        fail(f"unknown workload {a.workload!r}; choose from {', '.join(why)}")

    jars = spark_jars()
    classes = build(jars)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-smoke" if a.smoke else "")
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    out = os.path.join(OUT, tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "data": data, "work": work, "out": out}
    if a.make_golden:
        args.update(mode="golden", trace=0, warm=0, queries=",".join(
            q for x in spec["workloads"].values() for q in x.get("queries", [])))
    else:
        # the same work in every run, sized to last about --seconds on a calm
        # 4-core host: warm passes keep getting faster for a while (JIT), so
        # a count that followed the host's speed would move the metrics
        warm = max(1, round(a.seconds / w["pass_s"]))
        args["warm"] = max(2, warm) if a.trace else warm
        args.update(mode="batch", queries=",".join(w["queries"]))
        if "stream_events" in w:
            args["stream_events"] = w["smoke_stream_events" if a.smoke else "stream_events"]
    try:
        os.makedirs(work)
        rc = run_jvm(classes, jars, args, work, os.path.join(out, "jvm.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK) and not os.listdir(WORK):
            os.rmdir(WORK)
    raw_path = os.path.join(out, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        fail(f"measuring JVM {'timed out' if rc is None else f'exited with {rc}'}; "
             f"see {os.path.relpath(out, ROOT)}/jvm.log")
    with open(raw_path) as f:
        raw = json.load(f)

    if a.make_golden:
        os.makedirs(os.path.dirname(golden_path), exist_ok=True)
        with open(golden_path, "w") as f:
            json.dump(dict(sorted(raw["fingerprints"].items())), f, indent=1)
            f.write("\n")
        print(f"[perfbench] wrote {len(raw['fingerprints'])} fingerprints to {os.path.relpath(golden_path, ROOT)}")
        return 0

    with open(golden_path) as f:
        golden = json.load(f)
    wrong = wrong_outputs(raw, golden)
    failed_calls = sum(1 for c in raw["calls"] if not c["ok"])
    attempted = len(raw["calls"])
    failed = min(attempted, failed_calls + len(wrong))
    e2e, extra = end_to_end(raw)
    extra["error_rate"] = (failed / attempted, "ratio")

    artifact = {
        "workload": a.workload, "why": why[a.workload], "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "scale": scale, "smoke": a.smoke, "cores": raw["cores"],
        "shuffle_partitions": raw["shuffle_partitions"], "spark_version": raw["spark_version"],
        "attempted": attempted, "failed": failed, "wrong_outputs": wrong, "errors": raw["errors"],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **extra}.items()},
        "warm_medians_s": per_op(raw["calls"], traced=False),
        "setup_s": raw["setup_s"], "calls": raw["calls"], "fingerprints": raw["fingerprints"],
        "wall_s": time.time() - t_start,
    }
    report = None
    if a.trace:
        layers, report, spans = trace_report(raw, spec)
        artifact["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        artifact.update(report)
        with open(os.path.join(out, "spans.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        metrics = layers
    else:
        metrics = e2e
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    os.remove(raw_path)

    # console summary: every metric by name with its unit; the long
    # tables are cut to CONSOLE_ROWS rows, flagged, and complete in the file
    print(f"[perfbench] {a.workload} seed={a.seed} scale={scale} cores={raw['cores']} "
          f"shuffle_partitions={raw['shuffle_partitions']} attempted={attempted} failed={failed}")
    for k, (v, u) in {**e2e, **extra}.items():
        print(f"  {k:<24} {v:>14.4f} {u}")
    if report is not None:
        for k, (v, u) in layers.items():
            print(f"  {k:<28} {v:>14.4f} {u}")
        print("  self time per span layer (ms): " +
              ", ".join(f"{k}={v:.1f}" for k, v in sorted(report["self_ms"].items())))
        o = report["tracing_overhead"]
        print(f"  tracing overhead: traced suite {o['traced_suite_s']:.3f} s - untraced "
              f"{o['untraced_suite_s']:.3f} s = {o['overhead_s']:+.3f} s")
        table = report["dominant_layers"]
        print(f"  dominant layer per query (truncated={len(table) > CONSOLE_ROWS}, "
              f"{len(table)} rows in {os.path.relpath(out, ROOT)}/result.json):")
        for t in table[:CONSOLE_ROWS]:
            print(f"    {t['op']:<24} {t['dominant']:<7} {t['share']:.2f} of {t['wall_ms']:.0f} ms")
    if wrong or raw["errors"]:
        for e in raw["errors"]:
            print(f"[perfbench] error: {e}", file=sys.stderr)
        for op in wrong:
            print(f"[perfbench] wrong output: {op}", file=sys.stderr)
    print(json.dumps({"correct": not wrong and failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
