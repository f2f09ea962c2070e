#!/usr/bin/env python3
"""The repo benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program (perfbench/build.py), generates the workload's inputs
from the seed (perfbench/gen.py), runs the benchmark JVM (perfbench/src) on
`local[n]` with n = the usable cores, and prints a summary followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics, measured with no listener attached; with
--trace 1 they are the per-layer metrics of a traced run, which also reports
its tracing overhead and writes its spans to <build>/results/.

Workloads (why each exists is in WORKLOADS below):
  stream_enrich    the paper's weather -> hotel topology in an open loop
  batch_kernels    row-wise regex, decoding and sketch faces
  batch_iterative  multi-job graph, staging and shuffle faces; runnable, but
                   not in BENCHMARK.json (see CHANGES.md)

End-to-end metrics, reported for every workload (names and units are read
from BENCHMARK.json):
  setup_s         the run's one-time set-up. Batch: the untimed check pass
                  (builds each face, which stages the fixtures it touches,
                  compiles its code, and checks its result) and one untimed
                  warm-up pass. Stream: start both queries and push the
                  priming records through.
  records_per_s   Stream: the window's records committed per second of
                  busy time of the two paths (weather triggers, and hotel
                  runs from start to end), so it carries the trigger work
                  undiluted. Batch: result rows over pass_s.
  (pass_s)        printed and saved with every run, bounded only through
                  records_per_s, traced as pass.wall_s. Batch: a full pass,
                  every face written to the noop sink, as the sum of each
                  face's median over the timed passes. Stream: median
                  weather trigger (the pass of the topology over the records
                  that arrived).
  latency_p50_ms, latency_p90_ms
                  Stream: from each weather reading's due time to the end of
                  the sink write of the history update that includes it.
                  About half of it is the wait on an idle query for the next
                  3 s trigger time, which the program does not set, so a
                  slower trigger moves it by about half as much. Batch:
                  every face of a pass is due at the pass start; from then
                  until its last row is written. Each pass gives its own
                  p50 and p90 over its faces; the run reports their median
                  over the passes.
Failed operations are the top-level "failed" out of "attempted": faces that
throw or whose result does not match expected.json, stream records never
committed. A failure adds no time to any metric: a face that failed its
check is not timed, and a face that throws in a timed pass is left out of it.

--fail-face <face> makes that face throw, and --fail-face <face>:wrong makes
it return a wrong result (its first row), to see a failure counted.

Each per-layer metric is listed in PER_LAYER with its layer, the end-to-end
metric it should move and the workload where it should. BENCHMARK.json has
no room for these (its entries have fixed keys), so they are written into
every traced run's report instead.
"""
import argparse
import fnmatch
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = {
    "stream_enrich": "the only workload that writes streaming state (weather) and reads it "
                     "(hotel joins): state store and per-trigger commit path",
    "batch_kernels": "row-wise regex, decoding and sketch faces whose cost count() hid; "
                     "kernel and parallelism changes show here",
    "batch_iterative": "8-44 jobs per face, per-round staged tables, MBs of shuffle; "
                       "planning, scheduler and shuffle changes show here",
}
BATCH = ["batch_kernels", "batch_iterative"]
# per-layer metric (or pattern): (layer, end-to-end metric it should move,
# workload where it should). The planning, scheduler and shuffle layers
# should move most on batch_iterative, which BENCHMARK.json leaves out; on
# batch_kernels they are predicted near-flat.
PER_LAYER = {
    "pass.wall_s": ("whole pass / weather trigger", "records_per_s", "all"),
    "state.*": ("graft.streaming state store", "latency_*", "stream_enrich"),
    "trigger.*": ("graft.streaming trigger", "latency_*", "stream_enrich"),
    "enrich_latency_*": ("graft.streaming hotel path", "records_per_s", "stream_enrich"),
    "sink.enrich_ms": ("graft.streaming hotel path", "records_per_s", "stream_enrich"),
    "enrich.restart_ms": ("graft.streaming hotel path", "records_per_s", "stream_enrich"),
    "source.backlog_records.*": ("memory source (saturation check)", "latency_*", "stream_enrich"),
    "gen.late_ms": ("load generator (run validity)", "latency_*", "stream_enrich"),
    "sched.task_cpu_ms": ("graft.functions / graft.operators", "records_per_s, latency_*",
                          "batch_kernels"),
    "sched.parallelism": ("graft.functions / graft.operators", "records_per_s, latency_*",
                          "batch_kernels"),
    "face.*": ("catalog (CoreQueries / ExtQueries)", "records_per_s, latency_*", "batch_kernels"),
    "plan.*": ("graft.plans + Catalyst", "latency_*", "batch_kernels"),
    "codegen.compiles": ("graft.plans + Catalyst", "latency_*, setup_s", "batch_kernels"),
    "sched.*": ("Spark scheduler", "latency_*", "batch_kernels"),
    "shuffle.*": ("Spark shuffle", "latency_*", "batch_kernels"),
    "spill.bytes": ("Spark shuffle", "latency_*", "batch_kernels"),
    "scan.*": ("graft.sources scan", "records_per_s", "all"),
    "jvm.gc_ms": ("JVM", "latency_*", "all"),
    "jvm.heap_peak_mb": ("JVM", "setup_s", "all"),
}

# Offered stream load: about half the closed-loop drain rate at the batch size
# the open loop produces (about 1,200 weather records per 1.0-1.2 s trigger on
# a 4-core machine). Priming records go through during set-up; the lead is
# load sent before the measured window to warm the system up: trigger times
# keep falling for about 15 s of load after set-up.
RATES = {"weather": 400.0, "hotels": 20.0}
PRIME = {"weather": 4000, "hotels": 60}
LEAD_S = 16
# A fixed-size heap under the parallel collector. Under G1's adaptive heap
# sizing, batch passes kept getting faster for about 50 s (ten passes) after
# set-up, so a run measured some point of that slope, and where depended on
# the host's speed at the time; with these settings the passes level off
# within the first one or two.
HEAP = "3g"
GC = ["-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def layer_of(name):
    """(layer, moves, workload) of a per-layer metric; exact names first."""
    if name in PER_LAYER:
        return PER_LAYER[name]
    return next(v for k, v in PER_LAYER.items() if fnmatch.fnmatchcase(name, k))


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return ""


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--fail-face")
    a = p.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        sys.exit("perfbench: run from the root of a checkout of the program (no src/main/scala)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    import build
    import gen

    env_start = {"loadavg": loadavg(), "time": time.time()}
    classpath = build.build(root)
    out = build.build_dir(root)
    run_dir = os.path.join(out, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    results = os.path.join(out, "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "slash_tmp"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(results, exist_ok=True)

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(len(os.sched_getaffinity(0))),
            "--out", run_dir]
    if a.workload in BATCH:
        data = os.path.join(run_dir, "data")
        gen.write_batch(data, a.seed)
        args += ["--data", data, "--expected", os.path.join(HERE, "expected.json")]
        if a.fail_face:
            args += ["--fail-face", a.fail_face]
    else:
        stream = os.path.join(run_dir, "stream.tsv")
        gen.write_stream(stream, a.seed, weather_per_s=RATES["weather"],
                         hotels_per_s=RATES["hotels"], seconds=a.seconds, lead_s=LEAD_S,
                         prime_weather=PRIME["weather"], prime_hotels=PRIME["hotels"])
        args += ["--stream", stream]

    cmd = ["java", *GC, "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dperfbench.tmpRoot={run_dir}/slash_tmp",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            sys.exit(f"perfbench: benchmark JVM exceeded {JVM_TIMEOUT_S} s; log in {log_path}")
    line = next((ln for ln in stdout.splitlines() if ln.startswith("PERFBENCH_RESULT ")), None)
    if proc.returncode != 0 or line is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: benchmark JVM failed (exit {proc.returncode}); log in {log_path}")
    r = json.loads(line[len("PERFBENCH_RESULT "):])

    env = dict(r["env"], nproc=os.cpu_count(), loadavg_start=env_start["loadavg"],
               loadavg_end=loadavg(), wall_s=round(time.time() - env_start["time"], 3))
    key = f"{a.workload}-seed{a.seed}"
    if a.trace:
        r["layers"]["pass.wall_s"] = r["traced_e2e"]["pass_s"]
        # the faces of a workload left out of BENCHMARK.json are reported too
        for n in r["layers"]:
            if n.startswith("face.") and n not in layer_units:
                layer_units[n] = "s"
        metrics = {n: {"value": r["layers"].get(n, 0.0), "unit": u}
                   for n, u in layer_units.items()}
        untraced = r["e2e"] if a.workload in BATCH else _stored_untraced(results, key)
        overhead = {n: {"traced": v, "untraced": untraced.get(n),
                        "share": (v / untraced[n] - 1) if untraced.get(n) else None}
                    for n, v in r["traced_e2e"].items()} if untraced else None
        spans = os.path.join(results, f"{key}-spans.jsonl")
        shutil.copy(os.path.join(run_dir, "spans.jsonl"), spans)
    else:
        metrics = {n: {"value": r["e2e"][n], "unit": u} for n, u in e2e_units.items()}
        overhead, spans = None, None
    report = {
        "workload": a.workload, "why": WORKLOADS[a.workload], "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "env": env,
        "e2e": {n: {"value": r["e2e"][n], "unit": u} for n, u in e2e_units.items()},
        "pass_s": r["e2e"]["pass_s"],
        "per_layer": {n: dict(m, **dict(zip(("layer", "moves", "workload"), layer_of(n))))
                      for n, m in metrics.items()} if a.trace else None,
        "trace_overhead": overhead, "spans_file": spans,
        "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
        "details": r["details"],
    }
    with open(os.path.join(results, f"{key}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"nproc {env['nproc']}  load {env['loadavg_start']} -> {env['loadavg_end']}  "
          f"spark {env['spark']}  jdk {env['jdk']}")
    for n, m in metrics.items():
        v = "n/a" if m["value"] is None else f"{m['value']:.4f}"
        print(f"  {n:34s} {v:>16s} {m['unit']}")
    print(f"  {'(pass_s)':34s} {r['e2e']['pass_s']:>16.4f} s")
    ratio = r["failed"] / r["attempted"] if r["attempted"] else 0.0
    print(f"  correct={r['correct']}  failed_ratio={ratio:.4f} "
          f"({r['failed']} of {r['attempted']})")
    for prob in r["details"].get("problems", []):
        print(f"  problem: {prob}")
    if overhead:
        print("  tracing overhead: " + ", ".join(
            f"{n} {o['share']:+.1%}" for n, o in overhead.items() if o["share"] is not None))
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


def _stored_untraced(results, key):
    path = os.path.join(results, f"{key}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return {n: m["value"] for n, m in json.load(f)["e2e"].items()}


if __name__ == "__main__":
    main()
