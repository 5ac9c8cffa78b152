#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client driving the engine's query
entry point with a seeded operation stream, on one local-mode Spark JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (sbt, perfbench/build.sbt) and generates the input tables; both
are cached under .bench_build/ and rebuilt when their sources change.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(and writes the spans to .bench_build/trace/). The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

Other modes:
    --all          every workload BENCHMARK.json declares, untraced and
                   traced: prints every metric with its unit and exits
                   non-zero unless every output digest matched
    --record       run every benchmarked operation once, write the
                   expected output digests to perfbench/expected.json and
                   check them against the DuckDB oracle (tools/check.py)
    --print-plan   print the operation stream for --workload/--seed
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BUILD, "data")
RUN = os.path.join(BUILD, "run")

DEFAULT_SEED = 1
HELD_OUT_SEED = 9001
SETUPS = 3
MIN_PASSES = 3
# set-up probe: the reference's request, answered on the small tables
PROBE = "wro_overlay_flagship"
JVM_TIMEOUT_S = 170
HEAP = "3g"
BUILD_TIMEOUT_S = 840
TAIL_PERCENTILE = 90

# read: serves a result; write: commits to the layer catalog or a
# snapshot table (catalog / stream layers, file I/O)
WORKLOADS = {
    "wro_service": {
        "read": ["wro_overlay_flagship", "wro_overlay_nodata",
                 "wro_classify_equal_interval", "wro_classify_labeljoin",
                 "f9_remap_expr", "wro_path_lookup", "wro_catalog_roundtrip"],
        "write": ["wro_create_mosaic", "snk19_append_ingest"],
    },
    "raster_loops": {
        "read": ["wro_cost_distance", "wro_watershed", "wro_flow_length",
                 "wro_zonal_stats"],
        "write": [],
    },
}
MAX_PASSES = 64

END_TO_END = [("setup_s", "s"), ("wall_s", "s"),
              ("read_p50_ms", "ms"), ("read_tail_ms", "ms"),
              ("retained_mb", "MB")]
PER_LAYER = [
    ("ops.build_ms", "ms"), ("ops.build_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimizer_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("exec.action_ms", "ms"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.stages_skipped", "count"), ("scheduler.tasks", "count"),
    ("scheduler.task_failures", "count"), ("scheduler.task_delay_ms", "ms"),
    ("scheduler.idle_ms", "ms"), ("executor.run_ms", "ms"),
    ("executor.cpu_ms", "ms"), ("executor.gc_ms", "ms"),
    ("executor.busy_ratio", "ratio"), ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_ms", "ms"),
    ("spill.disk_bytes", "bytes"), ("io.read_bytes", "bytes"),
    ("io.write_bytes", "bytes"), ("io.files_out", "count"),
    ("storage.rdds_held", "count"), ("storage.mem_mb", "MB"),
    ("storage.shuffle_dir_mb", "MB"), ("memory.peak_rss_mb", "MB"),
    ("session.drift_ratio", "ratio"),
    ("trace.overhead_ratio", "ratio"),
]

ADD_OPENS = [f"java.base/{p}" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- stream

class SplitMix64:
    """Small, fully specified PRNG, so a seed means the same stream on
    every Python version."""

    def __init__(self, seed):
        self.state = seed & 0xFFFFFFFFFFFFFFFF

    def next(self):
        self.state = (self.state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)

    def below(self, n):
        return self.next() % n

    def shuffle(self, items):
        for i in range(len(items) - 1, 0, -1):
            j = self.below(i + 1)
            items[i], items[j] = items[j], items[i]
        return items


def stream(workload, seed):
    """The seeded operation stream: MAX_PASSES passes, each a permutation
    of every operation of the workload, reads and writes interleaved."""
    w = WORKLOADS[workload]
    ops = [f"read:{n}" for n in w["read"]] + [f"write:{n}" for n in w["write"]]
    rng = SplitMix64(seed * 1_000_003 + sum(map(ord, workload)))
    return [rng.shuffle(list(ops)) for _ in range(MAX_PASSES)]


def plan_text(workload, seed, seconds, trace, paths):
    w = WORKLOADS[workload]
    lines = [f"workload {workload}", f"seconds {seconds}", f"trace {trace}",
             f"setups {SETUPS}", f"probe {PROBE}", f"min_passes {MIN_PASSES}",
             f"cores {cpu_count()}"]
    lines += [f"{k} {v}" for k, v in paths.items()]
    lines.append("warmup " + " ".join(w["read"] + w["write"]))
    lines += ["pass " + " ".join(p) for p in stream(workload, seed)]
    return "\n".join(lines) + "\n"


def cpu_count():
    return len(os.sched_getaffinity(0))


# ----------------------------------------------------------------- build

def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(
                os.path.join(d, f) for d, dirs, fs in os.walk(base)
                for f in fs if "target" not in os.path.relpath(d, base).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness; returns the JVM classpath."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
               os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    stamp = tree_hash(sources)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") +
                       f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false")
    # also covers the launcher's own java probes: no hsperfdata files
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log_path, "w") as out, open(log_path + ".err", "w") as err:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=out, stderr=err,
                       timeout=BUILD_TIMEOUT_S)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        raise SystemExit(f"build failed (exit {rc}); see {log_path}")
    classpath = lines[-1]
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def ensure_data():
    gen = os.path.join(HERE, "gen_data.py")
    stamp = tree_hash([gen])
    stamp_file = os.path.join(DATA, "data.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    shutil.rmtree(DATA, ignore_errors=True)
    for scale in ("0.1", "0.001"):
        subprocess.run([sys.executable, gen, os.path.join(DATA, f"sf{scale}"),
                        scale], check=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed and waited for."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def fresh_run_dir():
    shutil.rmtree(RUN, ignore_errors=True)
    paths = {k: os.path.join(RUN, k) for k in ("local_dir", "tmp_dir",
                                               "warehouse_dir")}
    for p in paths.values():
        os.makedirs(p)
    return paths


# The engine writes its scratch tables under the fixed path /tmp/graft_io.
# The JVM runs in a private mount namespace whose /tmp is the run's own,
# empty tmp_dir ($0): the engine's writes stay in the checkout and no run
# sees another's files. A checkout that itself lies under /tmp (at $1
# below it) is mounted back at its own path.
PRIVATE_TMP = ["unshare", "--mount", "--map-root-user", "sh", "-c", """
t=$0 rel=$1; shift
if [ -n "$rel" ]; then
  mkdir -p "$t/.host_tmp" && mount --bind /tmp "$t/.host_tmp" || exit 97
fi
mount --rbind "$t" /tmp || exit 97
if [ -n "$rel" ]; then
  mkdir -p "/tmp/$rel" && mount --bind "/tmp/.host_tmp/$rel" "/tmp/$rel" || exit 97
fi
exec "$@"
"""]


def private_tmp(tmp_dir):
    """The command prefix that runs a program with tmp_dir as its /tmp,
    or None where mount namespaces are not available."""
    real = os.path.realpath(ROOT)
    rel = real[len("/tmp/"):] if real.startswith("/tmp/") else ""
    prefix = PRIVATE_TMP + [tmp_dir, rel]
    try:
        ok = subprocess.run(prefix + ["test", "-d", tmp_dir], timeout=30,
                            capture_output=True).returncode == 0
    except OSError:
        ok = False
    return prefix if ok else None


def run_jvm(classpath, plan, paths, tag):
    plan_file = os.path.join(RUN, f"{tag}.plan")
    results_file = os.path.join(RUN, f"{tag}.jsonl")
    with open(plan_file, "w") as f:
        f.write(plan)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={paths['tmp_dir']}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", plan_file, results_file]
    prefix = private_tmp(paths["tmp_dir"])
    if prefix:
        cmd = prefix + cmd
    else:
        log("no private mount namespace here: emptying /tmp/graft_io instead")
        shutil.rmtree("/tmp/graft_io", ignore_errors=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=paths["local_dir"])
    jvm_log = os.path.join(RUN, f"{tag}.log")
    with open(jvm_log, "w") as out:
        rc = run_child(cmd, cwd=RUN, env=env, stdout=out, stderr=out,
                       timeout=JVM_TIMEOUT_S)
    if rc != 0:
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"engine run failed (exit {rc})")
    with open(results_file) as f:
        return [json.loads(l) for l in f if l.strip()]


# --------------------------------------------------------------- metrics

def expected_digests():
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def summarize(records, workload, trace):
    expected = expected_digests()
    setups = [r for r in records if r["type"] == "setup"]
    warmup = [r for r in records if r["type"] == "warmup"]
    ops = [r for r in records if r["type"] == "op"]
    end = next(r for r in records if r["type"] == "end")

    problems = []
    for s in setups:
        problems += check(s, expected["0.001"], "set-up")
    for w in warmup:
        problems += check(w, expected["0.1"], "warm-up")
    failed = 0
    for o in ops:
        bad = check(o, expected["0.1"], f"pass {o['pass']}")
        failed += bool(bad)
        problems += bad
    for p in problems:
        log("FAIL " + p)

    passes = sorted({o["pass"] for o in ops})
    names = sorted({o["name"] for o in ops})
    ms = {(o["name"], o["pass"]): latency(o) for o in ops}
    reads = [latency(o) for o in ops if o["kind"] == "read"]
    writes = [latency(o) for o in ops if o["kind"] == "write"]
    warmup_s = sum(latency(w) for w in warmup) / 1000
    pass_s = [sum(ms[n, p] for n in names) / 1000 for p in passes]
    setup_s = [s["s"] * (1 - s["steal"]) for s in setups]

    pass_list = ", ".join(f"{x:.2f}" for x in pass_s)
    raw_ms = sum(o["ms"] for o in ops)
    steal = 1 - sum(latency(o) for o in ops) / raw_ms
    log(f"{workload}: set-ups {', '.join(f'{x:.2f}' for x in setup_s)} s; "
        f"warm-up pass {warmup_s:.2f} s; {len(passes)} timed passes of "
        f"{len(names)} ops: {pass_list} s (raw {raw_ms / 1000:.2f} s in all, "
        f"{100 * steal:.1f}% stolen)"
        + (f"; write p50 {statistics.median(writes):.0f} ms" if writes else ""))

    if trace:
        metrics = layer_metrics(ops, workload, end)
    else:
        values = {
            "setup_s": statistics.median(setup_s),
            # the timed stream's time per pass, so a run that fits one
            # more pass into --seconds stays comparable
            "wall_s": statistics.fmean(pass_s),
            "read_p50_ms": statistics.median(reads),
            "read_tail_ms": statistics.quantiles(
                reads, n=100, method="inclusive")[TAIL_PERCENTILE - 1],
            "retained_mb": end["retained_mb"],
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    return {"correct": not problems, "attempted": len(ops), "failed": failed,
            "metrics": metrics}


def latency(rec):
    """An operation's latency in ms without the CPU time the hypervisor
    stole while it ran: wall time times the share of runnable CPU time
    this guest actually got."""
    return rec["ms"] * (1 - rec["steal"])


def check(rec, expected, where):
    if rec.get("error"):
        return [f"{rec['name']} ({where}): {rec['error']}"]
    want = expected.get(rec["name"])
    if rec.get("digest") != want:
        return [f"{rec['name']} ({where}): digest {rec.get('digest')} != expected {want}"]
    return []


def layer_metrics(ops, workload, end):
    """Per-operation layer records (mean over an operation's traced runs),
    printed per operation and combined into per-pass workload totals:
    sums, except the storage gauges (the most any operation left held)
    and the ratios below."""
    names = sorted({o["name"] for o in ops})
    derived = {"executor.busy_ratio", "memory.peak_rss_mb", "session.drift_ratio",
               "trace.overhead_ratio"}
    layers = [m for m, _ in PER_LAYER if m not in derived - {"executor.busy_ratio"}]

    def mean_ms(n, traced):
        return statistics.fmean(
            latency(o) for o in ops if o["name"] == n and o["traced"] == traced)

    per_op = {n: {m: statistics.fmean(o["layers"][m] for o in ops
                                      if o["name"] == n and o["traced"])
                  for m in layers}
              for n in names}
    log("per-operation layer metrics (mean of traced runs):")
    log("op " + " ".join(layers))
    for n, vals in per_op.items():
        log(n + " " + " ".join(f"{vals[m]:.6g}" for m in layers))
    totals = {m: (max if m.startswith("storage.") else sum)(v[m] for v in per_op.values())
              for m in layers}
    traced_ms = sum(mean_ms(n, True) for n in names)
    # the busy ratio of the whole pass, not a sum of per-op ratios
    totals["executor.busy_ratio"] = totals["executor.run_ms"] / (traced_ms * cpu_count())
    # VmHWM: under a heap grown on demand it follows the collector's
    # sizing decisions (1.4-2.5 GB between runs), so it is not gated
    totals["memory.peak_rss_mb"] = end["peak_rss_mb"]
    # each operation runs traced in some passes and untraced in the others
    totals["trace.overhead_ratio"] = traced_ms / sum(mean_ms(n, False) for n in names)
    # late-session drift: median over operations of last / first latency,
    # between passes that traced the operation alike
    ms = {(o["name"], o["pass"]): latency(o) for o in ops}
    passes = sorted({o["pass"] for o in ops})
    alike = [p for p in passes if p % 2 == passes[0] % 2]
    totals["session.drift_ratio"] = statistics.median(
        ms[n, alike[-1]] / ms[n, alike[0]] for n in names)
    with open(os.path.join(BUILD, "trace", f"{workload}.layers.json"), "w") as f:
        json.dump({"per_op": per_op, "totals": totals}, f, indent=1)
    return {m: {"value": totals[m], "unit": u} for m, u in PER_LAYER}


# ------------------------------------------------------------------ main

def check_sources():
    needed = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        raise SystemExit("engine sources not found (run from the repository "
                         "root of a full checkout): " + ", ".join(
                             os.path.relpath(p, ROOT) for p in missing))


def record(classpath):
    """Writes expected.json from one run of every benchmarked operation,
    then compares the large-scale outputs with the DuckDB oracle."""
    paths = fresh_run_dir()
    dump = os.path.join(RUN, "dump")
    names = sorted({n for w in WORKLOADS.values() for n in w["read"] + w["write"]})
    plan = "\n".join([f"cores {cpu_count()}", f"dump_dir {dump}",
                      f"data {DATA}/sf0.1", f"tiny {DATA}/sf0.001",
                      *[f"{k} {v}" for k, v in paths.items()],
                      "record " + " ".join(names)]) + "\n"
    records = [r for r in run_jvm(classpath, plan, paths, "record")
               if r["type"] == "record"]
    errors = [r for r in records if r["error"]]
    for r in errors:
        log(f"FAIL {r['name']} ({r['scale']}): {r['error']}")
    if errors:
        raise SystemExit("operations failed; expected.json not written")
    out = {"0.1": {}, "0.001": {}}
    for r in records:
        out["0.1" if r["scale"] == "data" else "0.001"][r["name"]] = r["digest"]
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    log("wrote perfbench/expected.json; oracle check:")
    rc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                         f"{DATA}/sf0.1", dump]).returncode
    raise SystemExit(rc)


def run_workload(classpath, workload, seed, seconds, trace):
    paths = fresh_run_dir()
    os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
    paths.update(data=f"{DATA}/sf0.1", tiny=f"{DATA}/sf0.001",
                 trace_out=os.path.join(BUILD, "trace", f"{workload}.spans.jsonl"))
    plan = plan_text(workload, seed, seconds, trace, paths)
    records = run_jvm(classpath, plan, paths, workload)
    return summarize(records, workload, trace)


def run_all(classpath, seed, seconds):
    """Every declared workload, untraced then traced: prints each metric
    with its unit and fails unless every output matched."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [w["name"] for w in json.load(f)["workloads"]]
    ok = True
    for workload in declared:
        for trace in (0, 1):
            r = run_workload(classpath, workload, seed, seconds, trace)
            ok = ok and r["correct"]
            print(f"{workload} --trace {trace}: correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}")
            for name, m in r["metrics"].items():
                print(f"  {name:26s} {m['value']:14.6g} {m['unit']}")
    raise SystemExit(0 if ok else 1)


def main():
    # a terminated benchmark still kills and waits for its engine JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--print-plan", action="store_true")
    a = ap.parse_args()
    if a.print_plan:
        if not a.workload:
            ap.error("--print-plan needs --workload")
        sys.stdout.write("".join(" ".join(p) + "\n" for p in stream(a.workload, a.seed)))
        return
    check_sources()
    classpath = build()
    ensure_data()
    if a.record:
        record(classpath)
    if a.all:
        run_all(classpath, a.seed, a.seconds)
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run_workload(classpath, a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
