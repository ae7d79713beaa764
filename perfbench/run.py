#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into `perfbench/target`; later runs
reuse the build while the sources are unchanged.

Each run gets its own `java.io.tmpdir`, `spark.local.dir` and working
directory under `perfbench/.work/`, deleted when the run ends. The JVM
(`perfbench.Main`) writes a run record; this script checks the query
outputs it wrote against the oracle digests in `reference/digests.json`,
keeps the record (and, for a traced run, the spans) in
`perfbench/results/`, and prints one JSON line as the last line of stdout:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`.
"""
import argparse
import glob
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
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads from the repository, sorted."""
    files = glob.glob(os.path.join(ROOT, "src", "main", "**", "*.*"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "main", "**", "*.*"), recursive=True)
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile with sbt unless a build of these exact sources exists;
    returns the runtime classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail(f"engine sources not found at {engine}; run from a checkout root", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required", 2)
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(HERE, ".build")
    cp_file = os.path.join(out, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]))
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if l.startswith(os.path.join(HERE, "target"))]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    return cp[-1]


def check_outputs(workload_queries, check_dir):
    """Digest each query's output and compare it with the oracle reference.
    Returns {query: None if it matches, else the reason}."""
    if not workload_queries:
        return {}
    import pandas as pd
    from digest import digest
    with open(os.path.join(HERE, "reference", "digests.json")) as fh:
        ref = json.load(fh)["digests"]
    out = {}
    for q in workload_queries:
        parts = sorted(glob.glob(os.path.join(check_dir, q, "*.parquet")))
        if not parts:
            out[q] = "no output written"
            continue
        got = digest(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True))
        if q not in ref:
            out[q] = "no reference digest"
        elif got != ref[q]:
            out[q] = f"digest {got} != reference {ref[q]}"
        else:
            out[q] = None
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    known = [w["name"] for w in spec["workloads"]]
    if a.workload not in known:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(known)}", 2)

    cp = build()
    # flush what earlier runs left in the page cache, so that its writeback
    # does not land inside this run's measurement
    os.sync()
    started = time.monotonic()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    for d in ("tmp", "spark-local", "check"):
        os.makedirs(os.path.join(work, d))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed-size heap: no run-dependent heap resizing in the timed phase
        "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--corpus", os.path.join(HERE, "corpus"),
        "--work", work, "--record", f"{work}/record.json", "--spans", f"{work}/spans.jsonl"]
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            try:
                proc.wait(timeout=RUN_LIMIT_S - (time.monotonic() - started))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise RuntimeError(f"run exceeded {RUN_LIMIT_S} s")
        if proc.returncode != 0:
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            raise RuntimeError(f"JVM exited with {proc.returncode}")
        with open(f"{work}/record.json") as fh:
            record = json.load(fh)
        checks = check_outputs(record["queries"], f"{work}/check")
        record["output_checks"] = checks
        bad = [q for q, why in checks.items() if why]
        record["failed"] += len(bad)
        record["failures"] += [{"op": q, "error": checks[q]} for q in bad]
        results = os.path.join(HERE, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{tag}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
        if a.trace:
            shutil.copy(f"{work}/spans.jsonl", os.path.join(results, f"{tag}.spans.jsonl"))
    except Exception as e:  # noqa: BLE001 - any failure means no result line
        shutil.rmtree(work, ignore_errors=True)
        fail(str(e))
    shutil.rmtree(work, ignore_errors=True)

    source = record["per_layer"] if a.trace else record["end_to_end"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
