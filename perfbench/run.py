#!/usr/bin/env python3
"""graft benchmark: build, generate seeded inputs, run one workload.

    python3 perfbench/run.py --workload <serve_cold_ingest|batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles graft's sources and
the harness in perfbench/src with the Scala compiler shipped in Spark's
jars (no sbt, no network) into $CARGO_TARGET_DIR or .bench_build/, keyed
by a hash of the sources. Each run generates its inputs from the seed
under .bench_work/, runs the workload in one JVM on a pinned local[4]
Spark session, checks every answer, and prints a per-workload report
followed by one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list; the traced run also writes its spans to
.bench_work/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
# the JVM's time limit: a fixed allowance for start-up, set-up and
# checks, plus three measured windows (a traced serve_cold_ingest run
# measures untraced, traced, then the layer replay), capped so that a
# run ends within 180 s
JVM_SETUP_S = 120
JVM_MAX_S = 170
# retrieval corpus (documents, vectors) per workload; batch also gets the
# sf0.1 analytics tables its panel reads
DATA = {
    "serve_cold_ingest": (200, 200, None),
    "batch": (5000, 2000, 0.1),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the jars of the first Spark
    install on PATH (a bin/ holding spark-submit beside a jars/)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if home and jars:
            return jars
    sys.exit("no Spark jars found: set SPARK_HOME")


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not graft:
        sys.exit("graft sources not found: run from the repository root")
    return graft, harness


def scalac(jars, classpath, out, files):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath), "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        sys.exit("compile failed")


def build(jars):
    """Compiled graft and harness classes, reused while sources match."""
    graft, harness = sources()
    h = hashlib.sha256()
    for p in graft + harness:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    final = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(final):
        return [os.path.join(final, "graft"), os.path.join(final, "harness")]
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(jars, jars, os.path.join(tmp, "graft"), graft)
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, os.path.join(tmp, "graft"), dirs_exist_ok=True)
    scalac(jars, jars + [os.path.join(tmp, "graft")],
           os.path.join(tmp, "harness"), harness)
    os.rename(tmp, final)
    return [os.path.join(final, "graft"), os.path.join(final, "harness")]


def run_jvm(jars, classes, args, work, data, out):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", os.pathsep.join(classes + jars), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", data, "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=min(JVM_MAX_S, JVM_SETUP_S + 3 * args.seconds))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    jars = spark_jars()
    classes = build(jars)
    bench = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    n_docs, n_vecs, sf = DATA[args.workload]
    t0 = time.time()
    datagen.generate(data, args.seed, n_docs, n_vecs, sf)
    gen_s = time.time() - t0
    out = os.path.join(work, "result.json")
    try:
        rc = run_jvm(jars, classes, args, os.path.join(work, "jvm"), data, out)
        if rc != 0 or not os.path.exists(out):
            log = os.path.join(work, "jvm", "jvm.log")
            if os.path.exists(log):
                with open(log) as f:
                    sys.stderr.write(f.read()[-4000:])
            sys.exit(f"harness failed (exit {rc})")
        with open(out) as f:
            r = json.load(f)
        if r["error"]:
            sys.exit(f"harness error: {r['error']}")
        failed, failures = r["failed"], list(r["failures"])
        for tf in glob.glob(os.path.join(work, "jvm", "trace-*.jsonl")):
            os.makedirs(os.path.join(bench, "traces"), exist_ok=True)
            dest = os.path.join(bench, "traces", os.path.basename(tf))
            shutil.move(tf, dest)
            r["report"].append(f"trace file: {os.path.relpath(dest, ROOT)}")
        if args.workload == "batch":
            checked = oracle.check(data, os.path.join(work, "jvm", "panel_out"))
            for name, why in checked.items():
                if why:
                    failed += 1
                    failures.append(f"oracle {name}: {why}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in r["metrics"]]
    if missing:
        sys.exit(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": r["metrics"][m["name"]]["value"], "unit": m["unit"]}
               for m in wanted}
    attempted = r["attempted"]
    for name, v in metrics.items():
        # NaN in the harness (null here): nothing was measured, e.g.
        # every ingest failed; one more failed operation, not a crash
        if v["value"] is None:
            attempted += 1
            failed += 1
            failures.append(f"metric {name}: no value")

    print(f"== {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} (inputs generated in {gen_s:.1f} s)")
    for line in r["report"]:
        print(line)
    share = failed / max(1, attempted)
    print(f"ops_failed_share           {share:14.4f} share "
          f"(failed {failed} of {attempted})")
    for msg in failures[:10]:
        print("  failed:", msg)
    for name, v in metrics.items():
        shown = "no value" if v["value"] is None else f"{v['value']:.6f}"
        print(f"metric {name:32s} {shown:>16s} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))

if __name__ == "__main__":
    main()
