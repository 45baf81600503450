#!/usr/bin/env python3
"""Benchmark of the gate registry and the Pipeline clip DAG.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --smoke

Run from the root of a checkout. The first run compiles `src/main/scala`
and the harness in `graftbench/scala` with the Scala compiler that ships
in the Spark jars (no sbt) into `.graftbench/build`; later runs reuse the
classes while the sources are unchanged. Each run then starts one fresh
JVM for its workload, makes the inputs from `--seed`, runs untimed warm-up
rounds, a fixed number of timed rounds and, while `--seconds` have not
passed, further whole rounds that are checked but not timed. It checks the
outputs against computations made apart from the program and prints one
JSON line last.
Everything a run writes stays under `.graftbench/`; its scratch directory
is removed at the end. `--smoke` runs every workload's checks on tiny
inputs. See graftbench/README.md.
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
from concurrent.futures import ThreadPoolExecutor

T0 = time.time()
sys.dont_write_bytecode = True  # a run leaves nothing outside .graftbench/
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".graftbench")
BUILD = os.path.join(OUT, "build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
sys.path.insert(0, HERE)

# The gate set: why each gate is in it is in README.md.
GATES = [
    "q02_region_revenue", "q248_isotonic_calibration", "q249_holt_smooth",
    "q352_bpe_train", "q274_poisson_bootstrap", "q23_knn_brute_force",
    "q58_unigram_lm",
]
PIPELINE_NODES = ["Wav2vecNode", "FaceAlignmentNode", "FixedBboxesNode", "CropNode"]

# warmup: untimed rounds; rounds: timed rounds
WORKLOADS = {
    "gates": {"mode": "gates", "sf": 0.02, "gates": GATES, "warmup": 2,
              "rounds": 2},
    "pipeline_clips": {"mode": "pipeline", "clips": 8, "frames": 4,
                       "crop_size": 64, "nodes": PIPELINE_NODES, "warmup": 2,
                       "rounds": 2},
}
SMOKE = {"sf": 0.001, "clips": 2, "frames": 2, "warmup": 0, "rounds": 1}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return min(4, len(os.sched_getaffinity(0)))


def _sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                               recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not program:
        raise RuntimeError("no program sources under src/main/scala")
    return program, harness


def _scalac(dest, sources, classpath):
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-classpath", os.pathsep.join(classpath), *sources]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        raise RuntimeError("scalac failed:\n" + proc.stdout[-4000:])


def build():
    """Compiles program and harness once per source state; returns
    (classpath, seconds spent compiling)."""
    program, harness = _sources()
    digest = hashlib.sha256()
    for path in program + harness:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    key = digest.hexdigest()[:16]
    done = os.path.join(BUILD, key)
    classpath = [os.path.join(SPARK_JARS, "*"), os.path.join(done, "program"),
                 os.path.join(done, "harness")]
    if os.path.isdir(done):
        return classpath, 0.0
    start = time.time()
    tmp = os.path.join(BUILD, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    log(f"compiling {len(program)} program and {len(harness)} harness sources")
    try:
        _scalac(os.path.join(tmp, "program"), program, [os.path.join(SPARK_JARS, "*")])
        _scalac(os.path.join(tmp, "harness"), harness,
                [os.path.join(SPARK_JARS, "*"), os.path.join(tmp, "program")])
        os.rename(tmp, done)
    except OSError:
        if not os.path.isdir(done):  # not a concurrent build that finished first
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for old in os.listdir(BUILD):
        if old != key and not old.startswith("tmp-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    return classpath, time.time() - start


def run_jvm(classpath, work, heap, args):
    """Runs the harness in a fresh JVM whose temp and working directory are
    `work`; returns its result object."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", *opens,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
           "-cp", os.pathsep.join(classpath), "graftbench.Main",
           f"out={work}", f"result={result}", f"cores={cores()}",
           *[f"{k}={v}" for k, v in args.items()]]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.run(cmd, cwd=work, env=env, stdout=logf,
                              stderr=subprocess.STDOUT)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"harness JVM exited with {proc.returncode}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def run_workload(name, seed, seconds, trace, smoke=False):
    import oracle
    import tables
    spec = dict(WORKLOADS[name], **(SMOKE if smoke else {}))
    classpath, build_s = build()
    work = os.path.join(OUT, f"run-{os.getpid()}-{name}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = {"mode": spec["mode"], "seconds": seconds, "warmup": spec["warmup"],
                "rounds": spec["rounds"],
                "trace": trace, "t0ms": int(T0 * 1000), "build_s": build_s,
                "seed": seed}
        if spec["mode"] == "gates":
            data = os.path.join(work, "data")
            tables.make_tables(data, seed, spec["sf"])
            args.update(data=data, gates=",".join(spec["gates"]))
        else:
            args.update(clips=spec["clips"], frames=spec["frames"],
                        crop_size=spec["crop_size"], nodes=",".join(spec["nodes"]))
        res = run_jvm(classpath, work, "3g", args)
        check = res["check"]
        if spec["mode"] == "gates":
            problems = oracle.check_gates(data, os.path.join(work, "results"),
                                          check["oracle_sql"], res["errors"],
                                          check["write_errors"])
        else:
            problems = list(check["problems"])
        res["problems"] = problems
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload's checks on tiny inputs")
    a = ap.parse_args()
    try:
        if a.smoke:  # both workloads at once: about a minute on 4 cores
            build()
            bad = 0
            with ThreadPoolExecutor(len(WORKLOADS)) as pool:
                runs = {name: pool.submit(run_workload, name, a.seed, 0, a.trace, True)
                        for name in WORKLOADS}
            for name, run in runs.items():
                res = run.result()
                for p in res["problems"]:
                    log(f"{name}: {p}")
                bad += len(res["problems"]) + res["failed"]
                log(f"{name}: attempted {res['attempted']}, failed {res['failed']}, "
                    f"problems {len(res['problems'])}")
            print(json.dumps({"correct": bad == 0}))
            return 0 if bad == 0 else 1
        if a.workload is None:
            ap.error("--workload is required")
        res = run_workload(a.workload, a.seed, a.seconds, a.trace)
    except Exception as e:  # no result line on a failed build or run
        log(f"error: {e}")
        return 1
    for p in res["problems"]:
        log(f"check: {p}")
    for op, err in res["errors"].items():
        log(f"failed: {op}: {err}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        with open(os.path.join(OUT, f"trace_{a.workload}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "rounds": res["rounds"],
                       "metrics": res["metrics"], "layers": res["layers"],
                       "op_median_s": res["op_median_s"], "op_times_s": res["op_times_s"],
                       "op_layers": res["op_layers"], "callsites": res["callsites"]},
                      f, indent=1, sort_keys=True)
    else:
        metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    log(f"{a.workload}: {res['rounds']} measured rounds in {res['measured_s']:.1f} s")
    print(json.dumps({"correct": not res["problems"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
