#!/usr/bin/env python3
"""The repo benchmark: two seeded workloads, timed end to end, with a
separate traced pass for per-layer metrics.

    python3 perfbench/run.py --workload etl_stream --seed 1 \
        --seconds 5 --trace 0

Run it from the root of a checkout.  It builds the engine and the
benchmark's JVM side from source into `.bench_build/` (once per source
change), generates the workload's inputs from `--seed`, drives the
engine in one JVM through its public functions, times an engine-free
reference job in a second JVM, checks every call's outputs, and prints
every metric by name with its unit.  The last line
of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with `--trace 0`, the per-layer ones with `--trace 1`.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

BUILD = ".bench_build"
# Each workload and the parts one of its calls runs, in order (gen.py has
# a generator per part). Every run pays a cold JVM and a cold set-up of
# each part, so the streaming step rides in the ETL workload's calls
# instead of a workload of its own: see NOTES.md.
WORKLOADS = {"etl_stream": ("etl_scan_feed", "stream_ingest"),
             "corpus_refresh": ("corpus_refresh",)}
# Set-up rounds per run (setup_s takes their median). Timed calls
# continue until the run's seconds are up, and are at least MIN_CALLS; a
# traced run makes at least one untraced and one traced call. One call of
# either workload takes longer than its run's seconds, so a run times one.
SETUP_ROUNDS, MIN_CALLS = 1, 1
# The throughput collector with a fixed-size heap, and the C1 JIT only.
# A run lasts well under a minute; with tiered C2 the JIT is still
# compiling through the timed calls, so their times depended on compile
# progress. C1 reaches its compiled code within set-up, and set-up is
# about a third shorter.
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1"]
ENGINE_HEAP, REFERENCE_HEAP = "3g", "1g"
# The reference job (Reference.scala): rows per run, and the runs its JVM
# makes before it is first asked (the first pays for Spark's cold start).
REFERENCE_ROWS, REFERENCE_WARMUP = 300000, 2
TRAIN_SIZES = {
    "etl_scan_feed": dict(gen.ETL, hosts=300, days=2),
    "corpus_refresh": dict(gen.CORPUS, batches=2, docs=20, setup_batches=2),
    "stream_ingest": dict(gen.STREAM, batches=2, users=50, docs=10),
}
RUN_LIMIT_S = 170  # the whole run, build excluded

END_TO_END = [("setup_s", "s"), ("call_rel", "ratio"),
              ("bytes_written_per_input_byte", "ratio"),
              ("heap_retained_mb", "MB")]

# Spark's launcher adds these when it starts a JVM; a plain `java` needs
# them to run Spark on JDK 17.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = home and os.path.join(home, "jars")
    if not jars or not os.path.isdir(jars):
        raise BenchError("SPARK_HOME must name a Spark install with jars/")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def scala_sources(root):
    """The engine's main sources and the benchmark's own, sorted."""
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BenchError(f"no engine sources under {engine}; run from the "
                         "root of a checkout")
    found = []
    for base in (engine, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files
                      if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Compiles engine + harness into one jar when a source changed, and
    dumps the class-data-sharing archive every run's JVM starts from."""
    sources = scala_sources(root)
    digest = hashlib.sha256()
    for s in sources:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    # the archive depends on the JVM flags too
    digest.update(" ".join(JVM_FLAGS + [ENGINE_HEAP]).encode())
    stamp = digest.hexdigest()
    out = os.path.join(root, BUILD)
    jar, archive = os.path.join(out, "bench.jar"), os.path.join(out, "bench.jsa")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return jar, archive
    for p in (stamp_file, jar, archive):
        if os.path.exists(p):
            os.remove(p)
    jars = spark_jars()
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print(f"[perfbench] compiling {len(sources)} Scala files", flush=True)
    proc = subprocess.run(
        [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", os.path.join(jars, "*")] + sources,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if proc.returncode != 0:
        raise BenchError("compile failed:\n" + proc.stdout[-4000:])
    # class-data sharing only maps classes from jars, not directories
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    train_archive(root, jar, archive)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, archive


def train_archive(root, jar, archive):
    """One small set-up of every part with class-data-sharing dump on:
    the archive holds the Spark and engine classes they loaded, so each
    run's JVM maps them instead of loading them from jars."""
    work = os.path.join(root, BUILD, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    train = dict(parts=list(TRAIN_SIZES), truth={
        name: gen.GENERATORS[name](os.path.join(work, name, "inputs"), 0,
                                   size)[1]
        for name, size in TRAIN_SIZES.items()})
    spec = dict(train=train, cores=cores(), work=work)
    print("[perfbench] dumping the class-data-sharing archive", flush=True)
    run_jvm(root, jar, None, spec, os.path.join(work, "train.log"),
            time.time() + 600,
            [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off"])
    shutil.rmtree(work, ignore_errors=True)


def cores():
    return len(os.sched_getaffinity(0))


def median_and_tail(values):
    """Median, plus the highest percentile with at least ten samples
    beyond it (None when the sample is too small for any)."""
    xs = sorted(values)
    n = len(xs)
    tail = None
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            tail = (p, xs[min(n - 1, int(n * p / 100))])
            break
    return statistics.median(xs), tail


def jvm_cmd(jar, archive, work, heap, main, args, flags=()):
    """A `java` command line for one of the benchmark's JVMs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = list(flags)
    if archive and os.path.isfile(archive):
        flags.append(f"-XX:SharedArchiveFile={archive}")
    # no hsperfdata file: the run writes nothing outside the checkout
    return ([java(), f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData"]
            + JVM_FLAGS + ADD_OPENS + flags
            + [f"-Djava.io.tmpdir={tmp}",
               "-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"),
               main] + list(args))


def run_jvm(root, jar, archive, spec, log_path, deadline, jvm_flags=()):
    spec_path = os.path.join(spec["work"], "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    cmd = jvm_cmd(jar, archive, spec["work"], ENGINE_HEAP,
                  "perfbench.BenchMain", [spec_path], jvm_flags)
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  cwd=root,
                                  timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"engine JVM timed out; log: {log_path}")
    if proc.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"engine JVM exited {proc.returncode}:\n{tail}")
    if "out" in spec:
        with open(spec["out"]) as f:
            return json.load(f)


def measured_calls(res):
    """The untraced calls whose checks passed, or all untraced calls
    when none did (the run is then reported as not correct)."""
    timed = [c for c in res["calls"] if not c["traced"]]
    return [c for c in timed if c["ok"]] or timed


def reference_s(res):
    """The reference job's best time in the run: read right before every
    measured call and once after the last one."""
    return min([c["ref_s"] for c in measured_calls(res)]
               + [res["final_ref_s"]])


def end_to_end(res, gen_s):
    ok = measured_calls(res)
    # The shared host's speed drifts by tens of percent within minutes. A
    # call in units of the engine-free reference job, timed in its own JVM
    # right before each call (its best time: the host's speed in that
    # run), drifts less.
    ref = reference_s(res)
    call_rel, tail = median_and_tail([c["wall_s"] / ref for c in ok])
    metrics = {
        "setup_s": gen_s + res["session_s"]
        + statistics.median(res["setup_s"]),
        "call_rel": call_rel,
        "bytes_written_per_input_byte":
            sum(c["bytes_written"] for c in ok)
            / max(1, sum(c.get("input_bytes", 0) for c in ok)),
        "heap_retained_mb": res["heap_used_mb"],
    }
    return metrics, {"call_rel": (len(ok), tail)}


def workload_figures(truth, res):
    """The workload's own headline figures, for the printed summary: the
    whole call and the reference, then each part's own."""
    ok = measured_calls(res)

    def med(key):
        xs = [c["facts"][key] for c in ok if key in c["facts"]]
        return statistics.median(xs) if xs else float("nan")

    figures = {"call_s": (statistics.median(c["wall_s"] for c in ok), "s"),
               "reference_s": (reference_s(res), "s")}
    if "etl_scan_feed" in truth:
        figures["etl_rows_per_s"] = (
            truth["etl_scan_feed"]["rows"] / med("etl_scan_feed_s"), "1/s")
    if "corpus_refresh" in truth:
        figures["refresh_batch_s"] = (med("corpus_refresh_s"), "s")
    if "stream_ingest" in truth:
        figures["stream_step_s"] = (med("stream_ingest_s"), "s")
        figures["stream_flagship_batch_s"] = (med("flagship_s"), "s")
        figures["stream_screen_batch_s"] = (med("screen_s"), "s")
    return figures


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    try:
        jar, archive = build(root)
        started = time.time()
        work = os.path.join(root, BUILD, "work", args.workload)
        results = os.path.join(root, BUILD, "results")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        os.makedirs(results, exist_ok=True)

        t0 = time.perf_counter()
        parts = WORKLOADS[args.workload]
        facts, truth = {}, {}
        for part in parts:
            facts[part], truth[part] = gen.GENERATORS[part](
                os.path.join(work, "inputs", part), args.seed)
        gen_s = time.perf_counter() - t0

        tag = f"{args.workload}_s{args.seed}_t{args.trace}"
        spec = dict(workload=args.workload, seed=args.seed,
                    seconds=args.seconds, trace=args.trace, cores=cores(),
                    setup_rounds=SETUP_ROUNDS,
                    min_calls=max(MIN_CALLS, 2 * args.trace),
                    work=work, parts=parts,
                    reference_cmd=jvm_cmd(
                        jar, archive, work, REFERENCE_HEAP,
                        "perfbench.Reference",
                        [os.path.join(work, "reference"), str(cores()),
                         str(REFERENCE_ROWS), str(REFERENCE_WARMUP)]),
                    out=os.path.join(work, "result.json"), truth=truth)
        res = run_jvm(root, jar, archive, spec,
                      os.path.join(results, tag + ".log"),
                      started + RUN_LIMIT_S)
    except BenchError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2

    calls = res["calls"]
    failures = (res["setup_failures"] + [c["error"] for c in calls
                                         if not c["ok"]]
                + res["end_check_failures"])
    failed = len(failures)
    attempted = res["setup_calls"] + len(calls) + res["end_checks"]
    for msg in failures:
        print(f"[perfbench] check failed: {msg}", file=sys.stderr)

    units = dict(END_TO_END)
    if args.trace:
        traced = [c for c in calls if c["traced"]]
        untraced = [c for c in calls if not c["traced"]]
        metrics = layers.per_layer(res["trace"], traced, spec["cores"])
        metrics.update(layers.probe_ratios(calls))
        metrics["trace.call_s"] = statistics.median(
            c["wall_s"] for c in traced)
        metrics["trace_overhead_frac"] = metrics["trace.call_s"] / \
            statistics.median(c["wall_s"] for c in untraced) - 1
        units = dict(layers.per_layer_names())
        samples = {}
        with open(os.path.join(results, f"spans_{tag}.json"), "w") as f:
            json.dump(res["trace"], f)
    else:
        metrics, samples = end_to_end(res, gen_s)

    figures = workload_figures(truth, res)
    detail = dict(workload=args.workload, seed=args.seed, cores=spec["cores"],
                  inputs=facts, gen_s=gen_s, session_s=res["session_s"],
                  setup_rounds_s=res["setup_s"], calls=calls,
                  measure_s=res["measure_s"], figures=figures,
                  metrics=metrics, failed_ops_frac=failed / attempted,
                  extra={k: v for k, v in res.items() if k not in (
                      "calls", "trace", "setup_s", "session_s")})
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1)

    print(f"[perfbench] {args.workload} seed={args.seed} "
          f"cores={spec['cores']} inputs={json.dumps(facts)}")
    for name, value in metrics.items():
        n, tail = samples.get(name, (None, None))
        extra = f"  n={n}" if n is not None else ""
        if tail:
            extra += f"  p{tail[0]}={tail[1]:.4f}"
        elif n is not None:
            extra += "  (too few samples for a tail percentile)"
        print(f"  {name:44s} {value:14.6g} {units[name]}{extra}")
    n_ok = len(measured_calls(res))
    for name, (value, unit) in figures.items():
        print(f"  {name:44s} {value:14.6g} {unit}  n={n_ok}")
    print(f"  {'failed_ops_frac':44s} {failed / attempted:14.6g} frac  "
          f"({failed} of {attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
