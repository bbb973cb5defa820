#!/usr/bin/env python3
"""Lakehouse benchmark: Spark over graft tables through the REST catalog.

  python3 perfbench/run.py --workload olap-scan --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark harness from source (once per source
state, into $CARGO_TARGET_DIR or .bench_build), generates the workload's
tables from the seed, runs one JVM (perfbench/scala/LakeBench.scala) and
prints, as its last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json, or with
`--trace 1` its per-layer metrics. The full artifact of every run (per
template medians and counts, failures, storage, layer shares) is kept under
.bench_work/artifacts/.

  python3 perfbench/run.py --workload table-ops --seed 1 --seconds 15 --report 5

runs the workload five times untraced (seeds 1..5) and once traced, and
prints each metric's median, quartiles and range, the tracing overhead and
the per-layer share of op time. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("olap-scan", "table-ops")
HEAP = "3g"
RUN_LIMIT_S = 170
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio",
         "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the repo's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(f"{home}/jars"):
        return f"{home}/jars"
    try:
        with open(f"{ROOT}/build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")
    return m.group(1)


def build(jars):
    """Compile src/main/scala plus the harness into one jar, then record a
    class-data-sharing archive from a short training run so that every run
    loads the JVM, Spark and engine classes from it. Reused while the
    sources, this script (it holds the JVM flags the archive is recorded
    with) and the jars are unchanged."""
    sources = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True))
    if not sources:
        fail(f"no engine sources under {ROOT}/src/main/scala")
    sources += sorted(glob.glob(f"{HERE}/scala/*.scala"))
    digest = hashlib.sha256()
    for path in sources + [os.path.abspath(__file__), jars]:
        digest.update(path.encode())
        if os.path.isfile(path):
            with open(path, "rb") as f:
                digest.update(f.read())
    top = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = f"{top}/build-{digest.hexdigest()[:16]}"
    if os.path.isfile(f"{out}/complete"):
        return out, False
    for old in glob.glob(f"{top}/build-*"):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(f"{out}/classes")
    t0 = time.time()
    cp = f"{jars}/*"
    proc = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                           "scala.tools.nsc.Main",
                           "-nowarn", "-classpath", cp, "-d", f"{out}/classes"] + sources,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        print(proc.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    # the archive needs jars on the class path, not directories
    with zipfile.ZipFile(f"{out}/lakebench.jar", "w", zipfile.ZIP_STORED) as z:
        for path in sorted(glob.glob(f"{out}/classes/**/*.class", recursive=True)):
            z.write(path, os.path.relpath(path, f"{out}/classes"))
    shutil.rmtree(f"{out}/classes")
    print(f"built {len(sources)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    t0 = time.time()
    run_once("olap-scan", 1, 1, 1, jars, out, time.time() + RUN_LIMIT_S, scale=0.01,
             train=True)
    print(f"recorded the class archive in {time.time() - t0:.1f}s", file=sys.stderr)
    open(f"{out}/complete", "w").close()
    return out, True


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return min(n, 4)


def run_once(workload, seed, seconds, trace, jars, build_dir, deadline, scale=1.0,
             train=False):
    """One JVM run; returns the artifact dict. A training run writes the
    class-data-sharing archive at exit instead of reading it."""
    import gen
    work_root = f"{ROOT}/.bench_work"
    work = f"{work_root}/run-{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    archive = f"{build_dir}/lakebench.jsa"
    cds = (f"-XX:ArchiveClassesAtExit={archive}" if train else
           f"-XX:SharedArchiveFile={archive}" if os.path.isfile(archive) else "-Xshare:auto")
    try:
        gen.generate(workload, seed, f"{work}/data", scale)
        out = f"{work}/artifact.json"
        cmd = (["java"] + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               # no perf-data file: the JVM would put it under the system temp dir
               [cds, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
                f"-Djava.io.tmpdir={work}/tmp",
                "-cp", f"{build_dir}/lakebench.jar:{jars}/*", "perfbench.LakeBench",
                workload, str(seed), str(seconds), str(trace), str(cores()),
                f"{work}/data", work, out])
        with open(f"{work}/jvm.log", "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                code = proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = None
        if code != 0 or not os.path.isfile(out):
            with open(f"{work}/jvm.log") as log:
                tail = log.read()[-6000:]
            print(tail, file=sys.stderr)
            fail(f"{workload} seed {seed}: JVM " +
                 ("timed out" if code is None else f"exited with {code}"))
        with open(out) as f:
            artifact = json.load(f)
        if train:
            return artifact
        os.makedirs(f"{work_root}/artifacts", exist_ok=True)
        shutil.copy(out, f"{work_root}/artifacts/{workload}-seed{seed}-trace{trace}.json")
        return artifact
    finally:
        shutil.rmtree(work, ignore_errors=True)


def load_spec():
    with open(f"{ROOT}/BENCHMARK.json") as f:
        return json.load(f)


def result_line(artifact, spec, trace):
    wanted = spec["per_layer" if trace else "end_to_end"]
    source = artifact["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": bool(artifact["correct"]), "attempted": int(artifact["attempted"]),
            "failed": int(artifact["failed"]), "metrics": metrics}


def summarize(artifact):
    """Human-readable lines before the result line."""
    run = artifact["run"]
    print(f"workload {run['workload']} seed {run['seed']}: {run['rounds']} rounds "
          f"in {run['measure_s']:.1f}s at local[{run['cores']}], heap {run['heap_mb']} MB")
    for name, t in sorted(artifact["templates"].items()):
        med = t.get("median_ms")
        print(f"  {name:22s} {t['class']:5s} n={t['n']:3d} ok={t['ok']:3d} "
              f"median={med:.1f}ms" if med is not None else f"  {name} all failed")
    for f in artifact["failures"]:
        print(f"  FAILED {f['phase']} {f['template']}: {f['error']}")
    for e in artifact["gate_errors"]:
        print(f"  GATE {e}")


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], statistics.median(values), q[2]


def report(args, spec, jars, build_dir):
    """Steadiness report: K untraced runs and one traced run."""
    runs = []
    for i in range(args.report):
        a = run_once(args.workload, args.seed + i, args.seconds, 0, jars, build_dir,
                     time.time() + RUN_LIMIT_S)
        summarize(a)
        runs.append(a)
    traced = run_once(args.workload, args.seed, args.seconds, 1, jars, build_dir,
                      time.time() + RUN_LIMIT_S)
    rows = {}
    print(f"\n{args.workload}: {args.report} runs, seeds {args.seed}..{args.seed + args.report - 1}")
    print(f"  {'metric':22s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'min':>12s} "
          f"{'max':>12s} {'iqr/med':>8s} bound")
    for m in spec["end_to_end"]:
        vals = [r["end_to_end"][m["name"]] for r in runs]
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else 0.0
        rows[m["name"]] = {"values": vals, "median": med, "q1": q1, "q3": q3,
                           "min": min(vals), "max": max(vals), "spread": spread}
        print(f"  {m['name']:22s} {med:12.4f} {q1:12.4f} {q3:12.4f} {min(vals):12.4f} "
              f"{max(vals):12.4f} {spread:8.3f} {m['bound']}")
    untraced = statistics.median(r["end_to_end"]["ops_per_s"] for r in runs)
    overhead = traced["end_to_end"]["ops_per_s"] / untraced
    print(f"  traced ops_per_s / untraced median: {overhead:.3f}")
    print("  share of traced op time: " + ", ".join(
        f"{k} {v:.3f}" for k, v in traced["layer_share"].items() if k != "op_ms_total"))
    templates = {}
    for r in runs:
        for name, t in r["templates"].items():
            if "median_ms" in t:
                templates.setdefault(name, []).append(t["median_ms"])
    print("  per-template medians across runs (median, min, max ms):")
    for name, meds in sorted(templates.items()):
        print(f"    {name:22s} {statistics.median(meds):9.1f} {min(meds):9.1f} {max(meds):9.1f}")
    out = f"{ROOT}/.bench_work/artifacts/report-{args.workload}.json"
    with open(out, "w") as f:
        json.dump({"metrics": rows, "traced_over_untraced_ops_per_s": overhead,
                   "layer_share": traced["layer_share"], "per_layer": traced["per_layer"],
                   "template_medians": templates}, f, indent=1)
    print(f"  report written to {out}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--report", type=int, default=0,
                   help="steadiness report over this many untraced runs plus one traced run")
    args = p.parse_args()
    start = time.time()
    jars = spark_jars()
    build_dir, built = build(jars)
    spec = load_spec()
    if args.report:
        report(args, spec, jars, build_dir)
        return
    # a run that had to build first gets its full time limit after the build
    deadline = (time.time() if built else start) + RUN_LIMIT_S
    artifact = run_once(args.workload, args.seed, args.seconds, args.trace, jars, build_dir,
                        deadline)
    summarize(artifact)
    print(f"wall {time.time() - start:.1f}s")
    print(json.dumps(result_line(artifact, spec, args.trace)))


if __name__ == "__main__":
    main()
