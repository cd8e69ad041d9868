#!/usr/bin/env python3
"""graft's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload online_mixed --seed 1 --seconds 12 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), runs one
workload in its own JVM, checks every answer, and prints one JSON object as
the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(and writes the spans to .bench_out/). The exit code is 0 only when every
check passed. See perfbench/README.md.
"""
import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # the benchmark writes only build, cache and run outputs
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("online_mixed", "batch_pipeline")
JVM_TIMEOUT_S = 170
HEAP = "3g"
# the JDK 17 module openings Spark needs outside spark-submit (as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def kn_reference():
    spec = importlib.util.spec_from_file_location("kn_reference", "tools/kn_reference.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_lm_sample(sample, kn):
    """The engine's nll of every sample-class doc must equal the independent
    reference's (tools/kn_reference.py), fitted on the same docs. Returns a
    list of problems."""
    docs = sample["docs"]
    if not docs:
        return ["KN LM: no sample-class docs were scored"]
    toks = [kn.toks(d["text"]) for d in docs]
    model = kn.fit(toks, sample["order"], sample["min_count"])
    problems = []
    for d, t in zip(docs, toks):
        ref = kn.score(model, t)
        if ref is None or abs(ref - d["nll"]) > 1.5e-4:
            problems.append(f"KN LM: doc {d['id']} nll {d['nll']}, reference {ref}")
    return problems


def run_jvm(classes, args, out_dir):
    work = os.path.join(out_dir, "work")
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(out_dir, "result.json")
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", result, "--work", work]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"the benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(result):
        raise SystemExit(f"the benchmark JVM failed with exit code {code}")
    with open(result) as f:
        res = json.load(f)
    spans = os.path.join(work, "spans.json")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(out_dir, "spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    classes = build.build()
    out_dir = os.path.join(".bench_out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    res = run_jvm(classes, args, out_dir)

    errors = list(res["errors"])
    attempted, failed = res["attempted"], res["failed"]
    if "lm_sample" in res:
        problems = check_lm_sample(res["lm_sample"], kn_reference())
        attempted += 1
        if problems:
            failed += 1
            errors += problems[:5]
    correct = res["correct"] and failed == 0
    for e in errors:
        print(f"[check] {e}", file=sys.stderr)
    detail = {"workload": args.workload, "seed": args.seed, "threads": res["threads"],
              "ops_attempted": attempted, "ops_failed": failed, **res["detail"]}
    print("# " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": res["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
