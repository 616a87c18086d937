#!/usr/bin/env python3
"""graft's benchmark: two workloads, timed end to end and layer by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the harness with the Scala compiler that ships in
Spark's jars, and generates the input tables; later runs reuse both. Build
output, data and result files go to $CARGO_TARGET_DIR (default .bench_build).

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The lines before it give every metric with its unit, the run
context, and any failing query or streaming family by name.

    python3 perfbench/run.py --selftest   # the digest's own tests
    python3 perfbench/run.py --freeze     # rewrite digests.json (see README)
"""
import argparse
import contextlib
import fcntl
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen_data  # noqa: E402
import replay  # noqa: E402

# The input tables: fixed scale and seed, so the frozen digests hold for
# every --seed. --seed drives query order and the stream replay.
DATA_SCALE = 0.01
DATA_SEED = 20240101

# Selection rules and probe numbers for these lists are in README.md.
CONSTRUCT_HEAVY = """q145_random_walks q119_power_iteration q174_session_stats
q98_linear_probe q177_watermark_advisor q167_skew_advisor q165_rfm""".split()
WORKLOADS = ["construct_heavy", "stream_replay"]
STREAM_FAMILIES = ["sliding_counts", "transition_tws", "popular_places"]
# Open-loop file interval: about half the drain capacity of the three
# families running together, measured at the commit that defined the
# benchmark; a constant from then on.
STREAM_INTERVAL_MS = 2000
SESSIONS = 3

# Metric names and units, as the benchmark declares them.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _DECL = json.load(_fh)
END_TO_END = [(m["name"], m["unit"]) for m in _DECL["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _DECL["per_layer"]]
UNITS = dict(END_TO_END + PER_LAYER)
JVM_OPENS = """java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
java.base/java.io java.base/java.net java.base/java.nio java.base/java.util
java.base/java.util.concurrent java.base/java.util.concurrent.atomic
java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action
java.base/sun.util.calendar""".split()
RUN_TIMEOUT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def scalac(out, classpath, files):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
                        "scala.tools.nsc.Main", "-nowarn", "-d", out,
                        "-cp", classpath] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])


def build(bdir):
    """Compile the engine and the harness unless their sources are unchanged."""
    engine_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    harness_src = sources(os.path.join(HERE, "harness"))
    if not engine_src:
        fail("no engine sources under src/main/scala: run from a checkout of the repository")
    h = hashlib.sha256()
    for f in engine_src + harness_src:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(bdir, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    t0 = time.time()
    scalac(os.path.join(bdir, "engine"), spark_jars(), engine_src)
    scalac(os.path.join(bdir, "harness"),
           spark_jars() + os.pathsep + os.path.join(bdir, "engine"), harness_src)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    print(f"built engine and harness in {time.time() - t0:.1f} s", file=sys.stderr)


def tables(bdir):
    d = os.path.join(bdir, "data", f"sf{DATA_SCALE}-seed{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, DATA_SCALE, DATA_SEED)
        open(os.path.join(d, "done"), "w").close()
    return d


def jvm(bdir, main, args, timeout=RUN_TIMEOUT_S):
    cp = os.pathsep.join([spark_jars(), os.path.join(bdir, "engine"),
                          os.path.join(bdir, "harness")])
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: on a few cores, C2 compiler threads compete with the tasks
    # for the short runs this benchmark makes
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC",
            "-XX:TieredStopAtLevel=1",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + opens +
           ["-cp", cp, main] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"{main} did not finish within {timeout} s")
    return proc.returncode, out, err


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           text=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        top, commit = (r.stdout.split() + ["", ""])[:2]
        if r.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT):
            return commit
    except OSError:
        pass
    return "unknown (not a git checkout)"


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    """Linear-interpolated percentile p (0-100) of xs."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def batch_metrics(res, digests):
    samples, warm = res["samples"], res["warm_samples"]
    bad = []
    for s in warm + samples:
        want = digests.get(s["query"])
        if s["error"] is not None:
            bad.append(f"{s['query']}: {s['error']}")
        elif want is None:
            bad.append(f"{s['query']}: no frozen digest")
        elif s["digest"] != want:
            bad.append(f"{s['query']}: digest {s['digest']} != frozen {want}")
    ok = [s for s in samples if s["error"] is None and s["digest"] == digests.get(s["query"])]
    wall = res["timed_wall_s"]
    lat = [s["construct_s"] + s["plan_s"] + s["action_s"] for s in samples]
    rows = sum(int(s["digest"].split(":")[0]) for s in ok)
    session = statistics.median(res["session_s"])
    e2e = {
        "setup_s": session + res["warm_s"],
        "queries_per_s": len(ok) / wall,
        "latency_p50_s": pct(lat, 50), "latency_p75_s": pct(lat, 75),
        "stream_rows_per_s": rows / wall,
        "freshness_p50_ms": pct(lat, 50) * 1e3, "freshness_p90_ms": pct(lat, 90) * 1e3,
    }
    work = res["work"]
    children = {}
    for s in res["spans"]:
        children.setdefault(s["parent"], {})[s["name"]] = s["id"]

    def w(sample, phase, key):
        sid = children.get(sample["span"], {}).get(phase)
        return work.get(str(sid), {}).get(key, 0) if sid is not None else 0

    n = max(1, len(samples))
    timed_task_s = sum(w(s, ph, "task_s") for s in samples
                       for ph in ("construct", "plan", "action"))
    core = res["core"]
    layers = {
        "setup.session_s": session, "setup.warm_s": res["warm_s"],
        "operators.construct_s": mean([s["construct_s"] for s in samples]),
        "operators.construct_jobs": sum(w(s, "construct", "jobs") for s in samples) / n,
        "operators.construct_task_s": sum(w(s, "construct", "task_s") for s in samples) / n,
        "plans.plan_s": mean([s["plan_s"] for s in samples]),
        "exec.action_s": mean([s["action_s"] for s in samples]),
        "exec.core_busy": timed_task_s / (wall * res["cores"]),
    }
    for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "sched_delay_s"):
        layers[f"exec.{k}"] = sum(w(s, "action", k) for s in samples) / n
    for k, src in (("shuffle_read_mb", "shuffle_read_b"), ("shuffle_write_mb", "shuffle_write_b"),
                   ("spill_mb", "spill_b"), ("scan_mb", "scan_b")):
        layers[f"exec.{k}"] = sum(w(s, "action", src) for s in samples) / n / 1e6
    layers.update({
        "core.memo_entries": core["memo_entries"],
        "core.persisted_rdds": core["persisted_rdds"],
        "core.persisted_rdds_growth":
            (core["persisted_rdds"] - core["persisted_rdds_before"]) / max(core["passes"], 1e-9),
        "core.storage_mb": core["storage_mb"],
    })
    # no micro-batches run here
    layers.update({n: 0 for n, _ in PER_LAYER if n.startswith("streaming.")})
    attempted = len(warm) + len(samples)
    return e2e, layers, attempted, bad, len(samples)


def stream_metrics(res):
    bad = list(res["errors"])
    batches = res["batches"]
    drain = [b for b in batches if b["phase"] == "drain" and b["input_rows"] > 0]
    drain_wall = sum(p["wall_s"] for p in res["phases"] if p["phase"] == "drain")
    drain_rows = sum(p["input_rows"] for p in res["phases"] if p["phase"] == "drain")
    fresh, backlog, gen_late = [], [], []
    for p in res["phases"]:
        if p["phase"] != "open":
            continue
        files = p["files"]
        for i, f in enumerate(files):
            gen_late.append(f["moved_ms"] - f["due_ms"])
            if f["end_ms"] is None:
                continue
            if f["end_ms"] < f["moved_ms"]:
                bad.append(f"{p['family']}/open: a file maps to a batch that ended before it arrived")
            fresh.append(f["end_ms"] - f["due_ms"])
            backlog.append(sum(1 for g in files[:i + 1]
                               if g["end_ms"] is None or g["end_ms"] > f["due_ms"]))
    late = sum(b["late_rows"] for b in batches)
    if late:
        bad.append(f"{late} rows dropped as late; the replay's delay bound allows none")
    lat = [b["duration_ms"].get("triggerExecution", 0) / 1e3 for b in drain]
    session = statistics.median(res["session_s"])
    e2e = {
        "setup_s": session + res["warm_s"],
        "queries_per_s": len(drain) / drain_wall,
        "latency_p50_s": pct(lat, 50), "latency_p75_s": pct(lat, 75),
        "stream_rows_per_s": drain_rows / drain_wall,
        "freshness_p50_ms": pct(fresh, 50), "freshness_p90_ms": pct(fresh, 90),
    }
    work = res["work"]
    phase_ids = {s["group"]: s["id"] for s in res["spans"] if s["name"] == "phase"}

    def phase_work(key, phase="drain"):
        return sum(work.get(str(i), {}).get(key, 0)
                   for g, i in phase_ids.items() if g.startswith(phase + "_"))

    n = max(1, len(drain))

    def dur(key):
        return pct([b["duration_ms"].get(key, 0) for b in drain], 50)

    last = {}
    for b in drain:
        last[b["family"]] = b
    cons = [p["construct_s"] for p in res["phases"]]
    layers = {
        "setup.session_s": session, "setup.warm_s": res["warm_s"],
        "operators.construct_s": mean(cons),
        "operators.construct_jobs": 0, "operators.construct_task_s": 0.0,
        "plans.plan_s": dur("queryPlanning") / 1e3,
        "exec.action_s": dur("addBatch") / 1e3,
        "exec.core_busy": phase_work("task_s") / (drain_wall * res["cores"]),
    }
    for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "sched_delay_s"):
        layers[f"exec.{k}"] = phase_work(k) / n
    for k, src in (("shuffle_read_mb", "shuffle_read_b"), ("shuffle_write_mb", "shuffle_write_b"),
                   ("spill_mb", "spill_b"), ("scan_mb", "scan_b")):
        layers[f"exec.{k}"] = phase_work(src) / n / 1e6
    core = res["core"]
    layers.update({
        "core.memo_entries": core["memo_entries"],
        "core.persisted_rdds": core["persisted_rdds"],
        "core.persisted_rdds_growth": core["persisted_rdds"] - core["persisted_rdds_before"],
        "core.storage_mb": core["storage_mb"],
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.get_batch_ms": dur("getBatch"),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.batches": len([b for b in batches if b["input_rows"] > 0]),
        "streaming.state_rows": sum(b["state_rows"] for b in last.values()),
        "streaming.state_mb": sum(b["state_bytes"] for b in last.values()) / 1e6,
        "streaming.late_rows": late,
        "streaming.watermark_lag_s": pct([(b["max_event_ms"] - b["watermark_ms"]) / 1e3
                                          for b in drain if b["watermark_ms"] is not None
                                          and b["max_event_ms"] is not None], 50),
        "streaming.backlog_files": max(backlog, default=0),
        "streaming.gen_late_ms": max(gen_late, default=0),
    })
    # attempted = micro-batches; a failed family check fails its batches
    attempted = len([b for b in batches if b["input_rows"] > 0])
    failed_phases = {e.split(":")[0] for e in res["errors"]}
    failed = len([b for b in batches if b["input_rows"] > 0
                  and f"{b['family']}/{b['phase']}" in failed_phases])
    if late:
        failed = attempted
    raw = {"drain_latency_s": [[b["family"], b["duration_ms"].get("triggerExecution", 0) / 1e3]
                               for b in drain],
           "freshness_ms": fresh}
    return e2e, layers, attempted, bad, failed, len(lat), raw


# ---------------------------------------------------------------- main

@contextlib.contextmanager
def prepared(name):
    """Hold the build directory's lock with the build up to date, and yield
    it with the tables' directory and a fresh scratch directory that is
    removed afterwards."""
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        build(bdir)
        data = tables(bdir)
        work = os.path.join(bdir, "work", f"{name}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            yield bdir, data, work
        finally:
            shutil.rmtree(work, ignore_errors=True)


def run(args):
    with prepared(f"{args.workload}-{args.seed}") as (bdir, data, work):
        return measure(args, bdir, data, work)


def measure(args, bdir, data, workdir):
    wl = args.workload
    out = os.path.join(workdir, "result.json")
    jargs = [f"workload={wl}", f"seed={args.seed}", f"seconds={args.seconds}",
             f"trace={args.trace}", f"data={data}", f"work={workdir}",
             f"out={out}", f"sessions={SESSIONS}"]
    if wl == "stream_replay":
        sdir = os.path.join(workdir, "stream")
        replay.prepare(data, sdir, args.seed)
        jargs += [f"stream_dir={sdir}", f"stream_families={','.join(STREAM_FAMILIES)}",
                  f"stream_files_per_trigger={replay.FILES_PER_TRIGGER}",
                  f"stream_interval_ms={STREAM_INTERVAL_MS}"]
    else:
        jargs.append(f"queries={','.join(CONSTRUCT_HEAVY)}")
    cpu0 = cpu_times()
    code, stdout, stderr = jvm(bdir, "perfbench.Harness", jargs)
    cpu1 = cpu_times()
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(stderr[-6000:])
        fail(f"harness exited with code {code}")
    res = json.load(open(out))
    if wl == "stream_replay":
        e2e, layers, attempted, bad, failed, n_lat, raw = stream_metrics(res)
    else:
        digests = json.load(open(os.path.join(HERE, "digests.json")))
        e2e, layers, attempted, bad, n_lat = batch_metrics(res, digests)
        failed = len(bad)
        raw = {"latency_s": [[s["query"], s["construct_s"] + s["plan_s"] + s["action_s"]]
                             for s in res["samples"]]}
    layers["log.warn_lines"] = res["log_warn_lines"]
    # freshness spreads too widely between runs to carry a bound; it is
    # reported with the per-layer metrics
    layers.update({k: e2e[k] for k in ("freshness_p50_ms", "freshness_p90_ms")})
    ctx = dict(res["context"], git_commit=git_commit(), data_scale=DATA_SCALE,
               data_seed=DATA_SEED, seconds=args.seconds, latency_samples=n_lat,
               cpu_steal_share=(cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]))
    error_rate = failed / attempted if attempted else 1.0

    # traced vs untraced: compare with the last untraced run of this workload
    rdir = os.path.join(bdir, "results")
    os.makedirs(rdir, exist_ok=True)
    untraced_path = os.path.join(rdir, f"last-untraced-{wl}.json")
    overhead = None
    if args.trace == 0:
        json.dump(e2e, open(untraced_path, "w"))
    elif os.path.exists(untraced_path):
        base = json.load(open(untraced_path))
        overhead = {k: e2e[k] / base[k] - 1.0 for k in e2e if base.get(k)}

    per_query = {}
    for s in res.get("samples", []):
        per_query.setdefault(s["query"], []).append(
            [s["construct_s"], s["plan_s"], s["action_s"]])
    per_query = {q: [statistics.median(x[i] for x in v) for i in range(3)]
                 for q, v in sorted(per_query.items())}
    record = {"context": ctx, "end_to_end": e2e, "per_layer": layers,
              "per_query_median_s": per_query, "raw": raw,
              "error_rate": error_rate, "attempted": attempted, "failed": failed,
              "failures": bad, "tracing_overhead": overhead}
    json.dump(record, open(os.path.join(
        rdir, f"{wl}-seed{args.seed}-trace{args.trace}.json"), "w"), indent=1)

    print("context: " + json.dumps(ctx, sort_keys=True))
    for name in e2e:
        print(f"  {name:28s} {e2e[name]:14.6g} {UNITS[name]}")
    print(f"  {'error_rate':28s} {error_rate:14.6g} ratio ({failed}/{attempted})")
    if args.trace:
        for name, unit in PER_LAYER:
            print(f"  {name:28s} {layers[name]:14.6g} {unit}")
        if overhead:
            print("tracing overhead vs the last untraced run: " + ", ".join(
                f"{k} {v:+.1%}" for k, v in overhead.items()))
    for b in bad[:20]:
        print(f"FAILED {b}")
        print(f"FAILED {b}", file=sys.stderr)
    chosen = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": float(layers[n] if args.trace else e2e[n]), "unit": u}
                    for n, u in chosen}}))
    return 0


def selftest():
    with prepared("selftest") as (bdir, _, work):
        code, out, err = jvm(bdir, "perfbench.DigestSelfTest", [work])
    print(out, end="")
    if code != 0:
        sys.stderr.write(err[-4000:])
    return code


def freeze():
    """Digest every construct_heavy query once and rewrite digests.json."""
    with prepared("freeze") as (bdir, data, work):
        out = os.path.join(work, "result.json")
        code, _, err = jvm(bdir, "perfbench.Harness", [
            "workload=freeze", "seed=0", "seconds=0", "trace=0", f"data={data}",
            f"work={work}", f"out={out}", "sessions=1",
            f"queries={','.join(CONSTRUCT_HEAVY)}"], timeout=1800)
        if code != 0:
            sys.stderr.write(err[-4000:])
            return code
        res = json.load(open(out))
    for s in res["warm_samples"]:
        print(f"{s['query']:28s} construct {s['construct_s']:7.3f} s  plan {s['plan_s']:6.3f} s"
              f"  action {s['action_s']:7.3f} s")
    bad = [s for s in res["warm_samples"] if s["error"] is not None]
    for s in bad:
        print(f"FAILED {s['query']}: {s['error']}")
    digests = {s["query"]: s["digest"] for s in res["warm_samples"] if s["error"] is None}
    with open(os.path.join(HERE, "digests.json"), "w") as fh:
        json.dump(dict(sorted(digests.items())), fh, indent=1)
        fh.write("\n")
    print(f"froze {len(digests)} digests")
    return 1 if bad else 0


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--freeze", action="store_true")
    args = p.parse_args()
    if args.selftest:
        return selftest()
    if args.freeze:
        return freeze()
    if not args.workload:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
