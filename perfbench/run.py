"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload attribution_curation --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark
from source (perfbench/build.sbt, reused while no source changed),
generates the seeded inputs with gen.py, runs graftbench.Main in one JVM
with Spark at local[4], prints every metric by name with its unit, and
prints as its last line one JSON object: {"correct", "attempted",
"failed", "metrics"}. `--trace 0` reports the end-to-end metrics and
`--trace 1` the per-layer ones (see README.md). Everything it writes goes
under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CPUS = 4
HEAP = "3g"
WORKLOADS = ("attribution_curation", "table_upkeep", "attribution_10x", "corpus_curation")

# the module openings Spark needs on JDK 17 outside spark-submit
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


def sources():
    """Every file the build reads, engine and benchmark."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base, sub in ((ROOT, "project"), (HERE, "project")):
        d = os.path.join(base, sub)
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".properties", ".scala"))] if os.path.isdir(d) else []
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, names in os.walk(d):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(source_hash):
    """sbt compile of the engine and the benchmark; returns the classpath."""
    stamp = os.path.join(OUT, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["source_hash"] == source_hash:
            return b["classpath"], False
    log = os.path.join(OUT, "build.log")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=f, stderr=subprocess.STDOUT, timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        json.dump({"source_hash": source_hash, "classpath": lines[-1]}, f)
    return lines[-1], True


def generate(workload, seed):
    """Seeded inputs, kept while gen.py is unchanged; other seeds are dropped."""
    gen = os.path.join(HERE, "gen.py")
    tag = digest([gen])
    root = os.path.join(OUT, "data")
    data = os.path.join(root, f"{workload}-{seed}")
    marker = os.path.join(data, "done")
    if os.path.exists(marker) and open(marker).read() == tag:
        return data
    os.makedirs(root, exist_ok=True)
    for d in os.listdir(root):
        if d.startswith(workload + "-"):
            shutil.rmtree(os.path.join(root, d))
    subprocess.run([sys.executable, gen, "--workload", workload, "--seed", str(seed),
                    "--out", data], check=True, timeout=120)
    with open(marker, "w") as f:
        f.write(tag)
    return data


def git_commit():
    """HEAD of the checkout, if the checkout is itself a git work tree."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(ROOT):
        return None
    return out[1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources next to perfbench/ (build.sbt, src/main/scala)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(OUT, exist_ok=True)
    source_hash = digest(sources())
    classpath, built = build(source_hash)
    data = generate(a.workload, a.seed)
    with open(os.path.join(data, "props.json")) as f:
        props = json.load(f)

    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    result = os.path.join(work, "result.json")
    load_start = os.getloadavg()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed-size heap and the stop-the-world parallel collector: with G1
    # and a growing heap, concurrent GC work and heap resizing kept cpu_s
    # falling for five iterations and moved it by a fifth from run to run
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.catalog.graft=graft.sources.GraftCatalog",
        f"-Dspark.sql.catalog.graft.warehouse={work}/warehouse",
        "-cp", classpath, "graftbench.Main",
        "--workload", a.workload, "--data", data, "--work", work,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--result", result,
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS))
    deadline = (880 if built else 172) - (time.time() - T0)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=f, stderr=subprocess.STDOUT,
                               timeout=max(deadline, 30))
        except subprocess.TimeoutExpired:
            fail(f"the run did not end in time, see {log}")
    if r.returncode != 0 or not os.path.exists(result):
        fail(f"the run failed (exit {r.returncode}), see {log}")
    with open(result) as f:
        res = json.load(f)

    stamp = {
        "nproc": len(os.sched_getaffinity(0)), "spark_master": f"local[{CPUS}]",
        "driver_heap": HEAP, "load_1_5_start": [round(x, 2) for x in load_start[:2]],
        "load_1_5_end": [round(x, 2) for x in os.getloadavg()[:2]],
        "git_commit": git_commit(), "source_hash": source_hash,
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
    }
    if a.trace == 0:
        metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: {"value": res["layers"].get(m["name"]) or 0.0, "unit": m["unit"]}
                   for m in spec["per_layer"]}
    print("stamp " + json.dumps(stamp))
    print("inputs " + json.dumps(props))
    print("samples " + json.dumps(res["samples"]))
    for name, m in metrics.items():
        print(f"metric {name} = {m['value']} {m['unit']}")
    if a.trace == 0:
        for name, m in res["extra"].items():
            print(f"metric {name} = {m['value']} {m['unit']}")
    else:
        for name, s in res["self_s"].items():
            print(f"self_s {name} = {s}")
    for msg in res["failures"]:
        print(f"check failed: {msg}")
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(dict(res, stamp=stamp, inputs=props), f, indent=1)
    for trace_file in ("spans.jsonl", "jobs.jsonl"):
        if os.path.exists(os.path.join(work, trace_file)):
            shutil.copy(os.path.join(work, trace_file),
                        os.path.join(results, f"{a.workload}-seed{a.seed}-{trace_file}"))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
