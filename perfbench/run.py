"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the harness
from source (once per checkout, sbt), generates the workload's inputs
from the seed, runs the harness JVM, checks the program's outputs
against independently computed answers, and prints the metrics: a
readable report first, then one JSON line with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`).
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

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
SETUP_REPS = 3
# A run must end within 180 s; the harness JVM is killed (and the run
# fails) if it has not finished after this long.
HARNESS_TIMEOUT_S = 160
WORKLOADS = ["daily_ingest", "serve_api", "stream_curation"]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles, so a checkout builds once."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        if not os.path.exists(r):
            raise SystemExit(f"missing {os.path.relpath(r, ROOT)}: run from a "
                             "checkout of the repository")
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt; return the classpath."""
    stamp = os.path.join(BUILD, "classpath.stamp")
    digest = source_digest()
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt)")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "writeClasspath"], cwd=HERE, stdout=out,
                             stderr=subprocess.STDOUT, env=env)
    if rc != 0:
        raise SystemExit(f"sbt build failed (see {BUILD}/sbt.log)")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as g:
        return g.read().strip()


def run_harness(classpath, workload, inputs, work, seconds, trace):
    """One harness JVM; returns its parsed result file."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness",
              "--workload", workload, "--inputs", inputs, "--work", work,
              "--seconds", str(seconds), "--trace", str(trace),
              "--setup-reps", str(SETUP_REPS), "--out", out])
    t0 = time.time()
    with open(os.path.join(work, "harness.log"), "w") as logf:
        try:
            rc = subprocess.call(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work,
                                 timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    log(f"harness ({'traced' if trace else 'untraced'}) exited {rc} "
        f"after {time.time() - t0:.1f} s")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "harness.log")) as f:
            tail = f.read()[-4000:]
        raise SystemExit(f"harness failed (exit {rc}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    classpath = build()
    # only the latest run is kept
    shutil.rmtree(os.path.join(BUILD, "runs"), ignore_errors=True)
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    inputs = os.path.join(run_dir, "inputs")
    truth = gen.generate(args.workload, args.seed, inputs)

    result = run_harness(classpath, args.workload, inputs, os.path.join(run_dir, "work"),
                         args.seconds, args.trace)
    checked = oracle.check(args.workload, truth, result)
    untraced = result["windows"][0]
    e2e = metrics.end_to_end(result, untraced, checked)
    report = [f"{args.workload} seed={args.seed} ops={checked['attempted']} "
              f"failed={checked['failed']}"]
    report += metrics.report_lines(args.workload, result, untraced, checked)
    report += ["check: " + p for p in checked["problems"][:20]]
    if args.trace:
        traced = result["windows"][1]
        layers = metrics.per_layer(result, traced, e2e,
                                   metrics.end_to_end(result, traced, checked))
        path = os.path.join(run_dir, "trace_report.json")
        metrics.write_trace_report(path, result, traced, layers)
        report.append(f"trace report: {os.path.relpath(path, ROOT)}")
        values = {k: {"value": layers[k], "unit": u}
                  for k, u in metrics.PER_LAYER_UNITS.items()}
    else:
        values = {k: {"value": v, "unit": metrics.END_TO_END_UNITS[k]}
                  for k, v in e2e.items()}
    for line in report:
        print(line)
    print(json.dumps({"correct": checked["failed"] == 0,
                      "attempted": checked["attempted"], "failed": checked["failed"],
                      "metrics": values}))


if __name__ == "__main__":
    main()
