#!/usr/bin/env python3
"""graft's benchmark: one command that builds the engine from source, runs
one seeded workload, checks every output and prints the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: ingest_churn, operator_pipelines (see perfbench/README.md).
The last stdout line is the result object {"correct", "attempted",
"failed", "metrics"}; the two lines before it are the run's provenance
and its detail record. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
Everything the run writes stays under .bench_build/. Exit code 0 on a
correct run, 1 on a wrong output, 2 when the run could not be made.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

ENGINE = {"origins": 4, "files": 100}
OPS = {"scale": 1, "fraction": 0.5,
       "arms": ["dedup_substring_chars", "pipeline_tokenize_pack", "q04_star_join"]}
WORKLOADS = ("ingest_churn", "operator_pipelines")
DEADLINE_S = 170
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def oracle_check(root, data_dir, out_dir, arms):
    """Each arm's warm-up output against DuckDB running its oracle SQL,
    by the repository's own gate, tools/check.py. Returns (checked arms,
    failure lines); a check that could not run fails every arm."""
    try:
        r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data_dir, out_dir],
                           capture_output=True, text=True, timeout=120)
    except (OSError, subprocess.SubprocessError) as e:
        return len(arms), [f"tools/check.py: {e}"] * len(arms)
    lines = r.stdout.splitlines()
    bad = [l for l in lines if l.startswith("FAIL")]
    # an arm with neither a PASS nor a FAIL line (the check crashed) fails
    unreported = len(arms) - len(bad) - sum(1 for l in lines if l.startswith("PASS"))
    bad += [f"tools/check.py exit {r.returncode}: {r.stderr.strip()[-300:]}"] * max(0, unreported)
    return len(arms), bad


def provenance(args, rec, digest, inputs):
    mem_kb = None
    try:
        with open("/proc/meminfo") as f:
            mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration):
        pass
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    loop = rec.get("loop", {})
    return {
        "provenance": {
            "nproc": len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count(),
            "spark_cores": rec.get("cores"), "mem_total_mb": mem_kb // 1024 if mem_kb else None,
            "jdk": rec.get("jdk"), "spark": rec.get("spark_version"),
            "git_commit": commit, "source_sha256": digest, "seed": args.seed,
            "workload": args.workload, "trace": args.trace, "inputs": inputs,
            "loop": loop.get("loop"), "clients": loop.get("clients"),
            "writer_loop": loop.get("writer_loop", "none"),
            "writer_rate_per_s": loop.get("writer_rate_per_s"),
            "writer_origins": loop.get("writer_origins", 0),
            "run_seconds": args.seconds, "measured_s": rec.get("values", {}).get("loop_s"),
            "session_start_s": rec.get("session_s"),
        }
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    try:
        spec = metrics.load_spec(os.path.join(root, "BENCHMARK.json"))
        classes, digest = build.ensure_built(root)
        jars = build.spark_jars()
    except (OSError, ValueError, build.BuildError) as e:
        fail(str(e))
    # the run's own deadline starts after a (first-run) build
    t_start = time.monotonic()
    if shutil.which("java") is None:
        fail("java not found")

    bench = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(bench, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(os.path.join(bench, "runs"), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw = os.path.join(work, "record.json")
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", work, "--out", raw]
    inputs = {}
    if args.workload == "operator_pipelines":
        data = os.path.join(work, "data")
        t0 = time.monotonic()
        try:
            import datagen_seeded
            datagen_seeded.generate(args.seed, OPS["scale"], data, root, OPS["fraction"])
        except (OSError, ImportError) as e:
            fail(f"datagen failed: {e}")
        inputs = {"datagen_scale": OPS["scale"], "row_fraction": OPS["fraction"],
                  "documents": 5000 * OPS["scale"] * OPS["fraction"], "datagen_s": time.monotonic() - t0,
                  "tables_bytes": sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data))}
        jvm_args += ["--data", data, "--arms", ",".join(OPS["arms"])]
    else:
        jvm_args += ["--origins", str(ENGINE["origins"]), "--files", str(ENGINE["files"])]

    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main"]
           + jvm_args)
    log_path = os.path.join(bench, "last-jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"workload did not finish in time (log: {log_path})")
    if proc.returncode != 0 or not os.path.exists(raw):
        fail(f"JVM exited with {proc.returncode} (log: {log_path})")
    rec = json.load(open(raw))

    attempted, failed = rec["attempted"], rec["failed"]
    failures = list(rec.get("failures", []))
    if args.workload == "operator_pipelines":
        n, bad = oracle_check(root, data, os.path.join(work, "arm-out"), OPS["arms"])
        attempted, failed, failures = attempted + n, failed + len(bad), failures + bad
        rec["attempted"], rec["failed"] = attempted, failed
    else:
        v = rec["values"]
        inputs = {"origins": ENGINE["origins"], "files": v.get("input.files"),
                  "bytes": v.get("input.bytes"), "entries": v.get("state.entries")}

    e2e, per, detail = metrics.compute(rec, args.workload, OPS["arms"])
    values = dict(per)
    values.update(e2e)
    prov = provenance(args, rec, digest, inputs)
    detail = {"detail": {"end_to_end": e2e, "per_layer": per, "failures": failures,
                         "error_rate": failed / max(attempted, 1),
                         "values": rec["values"], **detail}}
    correct = failed == 0 and attempted > 0
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics.select(spec, values, bool(args.trace))}

    out_dir = os.path.join(bench, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({**prov, **detail, "result": result, "raw_samples": rec["samples"]}, f, indent=1)
    if args.trace:
        shutil.copyfile(raw, stem + ".spans.json")
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(prov))
    print(json.dumps(detail))
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
