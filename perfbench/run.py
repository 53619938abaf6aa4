#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run the harness, report.

    python3 perfbench/run.py --workload glm_tall --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds the
library and the harness from source with sbt (cached under
perfbench/.work/, rebuilt when a source file changes); every run then
generates its inputs from --seed, starts one JVM running
`graftbench.Main`, and prints one JSON line as the last line of standard
output: the end-to-end metrics with --trace 0, the per-layer metrics of a
traced run with --trace 1.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import config  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
BUILD_TIMEOUT_S = 850
RUN_BUDGET_S = 170

# the module flags Spark needs on JDK 17 outside spark-submit (as in the
# library's own build definition)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the library's and the harness's."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + harness; return the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    fp = fingerprint(sources())
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["fingerprint"] == fp:
            return cached["classpath"]
    log("building library and harness with sbt")
    t0 = time.time()
    # offline: every dependency comes from the local caches
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-Dsbt.offline=true", f"-Djava.io.tmpdir={TMP}", "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, env={**os.environ, "COURSIER_MODE": "offline"})
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = [ln for ln in proc.stdout.splitlines()
                 if ln and not ln.startswith("[") and os.pathsep in ln][-1]
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.1f}s")
    return classpath


def run_harness(classpath, workload, inputs, out, seconds, trace, cpus, deadline):
    sizes = config.WORKLOADS[workload]
    # temp files (Spark's block manager dirs included) stay in the checkout
    cmd = ["java", f"-Xmx{config.JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", workload, "--inputs", inputs, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus),
            "--warmup-ops", str(config.WARMUP_OPS),
            "--min-ops", str(config.MIN_OPS), "--direct-reps", str(config.DIRECT_REPS)]
    for k, v in config.session_conf(cpus).items():
        cmd += ["--conf", f"{k}={v}"]
    for k, v in sizes.items():
        cmd += ["--param", f"{k}={v}"]
    # the harness's own output goes to stderr: stdout ends with the result
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=WORK)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("harness timed out")
    if code != 0:
        raise SystemExit(f"harness exited with {code}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(config.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no library sources next to perfbench/: run from a full checkout")
    os.makedirs(TMP, exist_ok=True)
    classpath = build()
    start = time.time()

    # inputs: regenerated every run; untimed, before the harness JVM starts
    inputs = os.path.join(WORK, "inputs", args.workload)
    shutil.rmtree(os.path.join(WORK, "inputs"), ignore_errors=True)
    t0 = time.time()
    gen.generate(args.workload, args.seed, inputs)
    log(f"generated {args.workload} inputs for seed {args.seed} in {time.time() - t0:.1f}s")

    out = os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cpus = config.cpus()
    run_harness(classpath, args.workload, inputs, out, args.seconds, args.trace, cpus,
                start + RUN_BUDGET_S)
    with open(out) as fh:
        doc = json.load(fh)
    for o in doc["ops"]:
        if o["error"]:
            log(f"op {o['i']}: {o['error']}")
    result = metrics.result_line(doc, args.workload, args.trace, cpus,
                                 config.WORKLOADS[args.workload].get("rounds", 0))
    n = result["attempted"]
    tail = metrics.tail_percentile(n)
    log(f"{n} timed ops; " + (f"tail percentile p{tail:g} has >=10 samples beyond it"
                              if tail else "no tail percentile has >=10 samples beyond it"))
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
