#!/usr/bin/env python3
"""Benchmark of the graft engine's event pipeline: the streaming ingest
loop and the analyst queries over the tables it maintains, each a closed
loop (one client, the next operation starts when the previous one ends) in
one JVM at local[<cpus>] (SPARK_GRAFT_CPUS is set to the machine's cpus).
Traced runs also measure the document-curation layer.

Usage, from the repository root:

    python3 perfbench/run.py --workload events_ingest --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the workload code from
source with sbt (perfbench/build.sbt); later runs reuse the classes while the
sources are unchanged. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}; the line before it records
cpus, 1-min loadavg, the number of other JVMs and the cpu time the hypervisor
gave to other guests during the run (steal: on a shared host it is the main
source of run-to-run spread), and before that the time of each set-up and
unmeasured phase and the wall-clock throughput and latencies. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones, and the spans (name, start, end, parent, op id) go to
.perfbench/traces/. The exit code is non-zero when a correctness check fails
or a metric could not be measured. --size tiny and --corrupt-tier exist for
perfbench/selfcheck.py.

Workloads (inputs derive from --seed, one derived seed per batch):
  events_ingest  writes. Each iteration lands a batch with
                 PartitionedJsonSink.write (10 000 fresh events, 500 events
                 of the previous batch again, 3 malformed lines; event time
                 advances 8 h a batch) and drains it with
                 StreamingPipeline.start(...).awaitTermination. No untimed
                 batch precedes the loop: the set-ups run the same code
                 first. An item is a landed event; an
                 operation's latency runs from landing complete to the
                 batch report's delivery.
  events_query   reads. After set-up, four more batches (1 500 events each)
                 complete a five-append history over three event-days four
                 days apart, so the tier carries append fragmentation,
                 daily trends have a slope and retention reaches week 1.
                 The expected results (the mix over the generator's frames)
                 run the query plans once before the loop. The client
                 then cycles through nine queries over raw_data,
                 events_curated and daily_event_summary (EventOps
                 dailySummary / runningCount / sessionize / dailyTrend,
                 DataQuality duplicate and incomplete counts, Behavior
                 funnel / retention, a summary read); nothing is written. An
                 item and an operation are one query.
Both check their results outside the measured loop. events_ingest: curated
rows = distinct ids landed, raw rows = parsed lines landed, the summary's
event_count sums to the raw rows, corrupt rows = the planted ones, every
batch report ok. events_query: the same, and each query over the tables
equals the same query over the generator's frames.

End-to-end metrics (--trace 0):
  setup_s          a set-up is session start plus the first batch into
                   empty tables; each run sets up four times, each from
                   nothing (new session, empty warehouse), and reports the
                   median. The first set-up runs in a cold JVM and pays class
                   loading and JIT (~20 s against ~4-5 s), so the median
                   follows the warm ones.
  peak_rss_mb      the JVM's VmHWM; the young generation is fixed so the
                   figure follows retained memory, not heap-sizing
                   heuristics.
  cpu_ms_per_item  CPU time of the whole JVM per item, less the JIT
                   compiler threads' share, for each iteration of the
                   measured loop (an ingest batch, or one pass of the query
                   mix); the median over the iterations. It is the compute
                   cost of an event or a query. The loop starts after a
                   full GC, so it does not inherit a half-full young
                   generation.
Wall-clock throughput and latency (items per second, p50 and p90 operation
latency) are printed on the info line of every run, and per layer by traced
runs (streaming.trigger_ms, operators.<query>_s), but they are not gated: on
the shared 4-cpu host this benchmark was sized on, hypervisor steal of 5-120
cpu-seconds in a one-minute run moved them by 25-35% between runs
(interquartile range over median, ten runs), more than the largest bound a
metric may have, while cpu_ms_per_item moved by about 6-10%. With about one
cpu-second of steal a run they moved 8-12%, cpu_ms_per_item about 6% and
setup_s 11-13%: a set-up is a 4-5 s wall-clock operation, so it carries the
host's run-to-run variation, and its bound is the largest allowed.

Sizing evidence (4-core machine): a steady-state StreamingPipeline batch
costs ~2.2 s fixed (24-26 Spark jobs) plus ~40 us per event (2.4 s at 2k
events, 3.3 s at 20k, 10 s at 200k), so 10 000 events make both parts
visible; queries over the history take 0.2-1.1 s with 3-13 jobs each; the
first batch in a fresh JVM takes ~15 s more than a warm one. A 500-document
CurationPipeline.ingestBatch takes ~6 s with 76 jobs, a 120-document one
~5 s: curation is fixed-cost bound, and a workload of its own would give two
or three batches a run, which the run budget (4 + 22 x workloads runs within
57 minutes) cannot make steady. So traced runs of both workloads measure it
instead.

Per-layer metrics (--trace 1) and the figure each should move (cpu = the
gated cpu_ms_per_item; latency and throughput = the wall-clock figures):
  streaming.*  (trigger, add_batch, bookkeeping = trigger - addBatch, query
               start; from a StreamingQueryListener) -> ingest latency
  pipeline.{load_raw,dedup_insert,refresh_summary,evaluate_dq}_s (Runner
               stage times, SPARK_GRAFT_STAGE_TIMING=1 lines) -> ingest cpu,
               throughput and latency; evaluate_dq re-runs dedup_insert's
               dedup
  pipeline.{probe_tier,incremental_neardup,incremental_strip_spans,
               publish_batch}_s: the curation treadmill's stage times. A
               traced run ends with CurationPipeline.ingestBatch over an
               untraced bootstrap slice and two traced slices of 100
               documents plus 10 exact and 10 near copies of earlier ones
               (TextDedup minhash banding, Components, span winnowing); its
               checks: every planted copy dropped, no doc_id twice in the
               tier, every report ok. -> curation docs per second
  pipeline.stage_retries (PipelineReport, event and curation batches; 0
               unless a stage failed and was retried)
  sources.*    (landing time, bytes and corrupt rows per batch; landing is
               outside the batch latency, so work moved into it shows)
               -> ingest cpu and throughput
  session.*    (SparkListener: jobs, tasks, task CPU, GC, shuffle bytes per
               operation, spill (0 unless memory runs short), busy ratio)
               -> cpu and latency of both
  session.parallel_speedup: a local[1] session repeats the work once, as the
               single-core baseline (ingest: a batch; query: a pass of the
               mix over the same table files, checked against the expected
               results); serial time over parallel time
  plans.*      (stored bytes per event, curated-tier files)
               -> ingest cpu and throughput, query cpu and latency
  operators.<query>_s -> query cpu and latency
  trace.overhead_ratio: traced over untraced operations of the same run
               (traced runs alternate the two).
events_query traces its history batches, so its streaming, pipeline and
source figures describe its set-up; events_ingest runs the query mix once
over the tables its loop wrote, so its operators figures describe reads of
that layout.

graft.Bench stays what it is: a timing of the correctness gates, not this
benchmark.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
OUT = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
WORKLOADS = ("events_ingest", "events_query")

# Spark on JDK 17 outside spark-submit (matches the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + workload code unless the stamp matches the sources;
    returns the runtime classpath."""
    fp = source_fingerprint()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    tmp = os.path.join(OUT, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                        f"-XX:-UsePerfData -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp} "
                        f"-Djna.tmpdir={tmp}")
    print("perfbench: building engine and workload code with sbt", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    classpath = cp[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def run_jvm(classpath, work, args, trace, timeout):
    """Runs perfbench.Main in a fresh scratch directory `work` (removed
    afterwards); returns (exit code, stdout). stderr goes to
    `work`.stderr, kept only when the run fails."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_", "_JAVA_", "JAVA_TOOL"))}
    env.update(SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    if trace:
        env["SPARK_GRAFT_STAGE_TIMING"] = "1"
    cmd = (["java", "-Xmx3g", "-Xmn1g", "-Xlog:disable", "-XX:-UsePerfData", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=64", "-XX:-UseDynamicNumberOfCompilerThreads", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--work", work] + args)
    err_path = work + ".stderr"
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {timeout:.0f} s; log: {err_path}")
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode == 0:
        os.remove(err_path)
    else:
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return proc.returncode, out


def cpus():
    return len(os.sched_getaffinity(0))


def loadavg1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_steal_ticks():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def jvm_count():
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                pass
    return n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt-tier", choices=("events", "documents"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    t_start = time.monotonic()  # the run's own time limit excludes the build

    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}")
    trace_out = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    jvms_before, load_before, steal_before = jvm_count(), loadavg1(), cpu_steal_ticks()
    code, out = run_jvm(
        classpath, work,
        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--size", a.size, "--corrupt", a.corrupt_tier or "none",
         "--trace-out", trace_out],
        trace=a.trace, timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - t_start)))
    results = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not results:
        fail(f"benchmark JVM exited with {code}")
    res = json.loads(results[-1][len("PERFBENCH_RESULT "):])

    want = spec["per_layer" if a.trace else "end_to_end"]
    got = res["metrics"]
    if set(got) != {m["name"] for m in want} or any(got[m["name"]]["unit"] != m["unit"] for m in want):
        fail(f"metrics {sorted(got)} do not match BENCHMARK.json")
    for line in out.splitlines():
        if line.startswith("perfbench: "):
            print(line)
    print(f"perfbench: workload={a.workload} seed={a.seed} trace={a.trace} cpus={cpus()} "
          f"loadavg1={load_before:.2f}->{loadavg1():.2f} concurrent_jvms={jvms_before}->{jvm_count()} "
          f"cpu_steal_s={(cpu_steal_ticks() - steal_before) / os.sysconf('SC_CLK_TCK'):.1f}"
          + (f" spans={trace_out}" if a.trace else ""))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": got}))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
