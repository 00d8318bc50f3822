#!/usr/bin/env python3
"""graft benchmark: keyed-inventory batch, and GRAPH serving before and under mutation.

    python3 perfbench/run.py --workload <batch_sf0.001|vector_serve_mutate> \
        --seed N --seconds S --trace 0|1

The checkout is the directory above perfbench/. The first run builds the engine's sources
(src/main/scala) together with the harness (perfbench/src) with sbt, and
caches the classpath under .bench_build/ keyed by a hash of the sources.
Each run starts one JVM on local[nproc] in a fresh working directory under
.bench_build/ (the engine's artifact store and warehouse are relative to
it), reads the raw record the JVM writes, checks it, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Extra modes:
    --record-fingerprints   run every keyed query twice (two JVMs) and write
                            expected/fingerprints.json from the outputs
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graft")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected", "fingerprints.json")
WORKLOADS = [metrics.BATCH, "vector_serve_mutate"]
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (JavaModuleOptions).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def classpath():
    """Builds once per source tree; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ENGINE, "graft", "SparkEntry.scala")):
        fail(f"no engine sources under {ENGINE}; run from the root of a graft checkout")
    os.makedirs(OUT, exist_ok=True)
    cached = os.path.join(OUT, f"classpath-{source_hash()}.txt")
    if os.path.isfile(cached):
        return open(cached).read().strip()
    log = os.path.join(OUT, "build.log")
    # sbt binds a unix socket under java.io.tmpdir; a path relative to its
    # working directory keeps the socket name short however deep the checkout
    tmp = os.path.relpath(os.path.join(OUT, "build-tmp"), HERE)
    os.makedirs(os.path.join(HERE, tmp), exist_ok=True)
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
             f"-Djna.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=850,
            env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"))
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(r.stdout[-3000:])
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cached, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(cp, workload, seed, seconds, trace, extra, limit):
    work = os.path.join(OUT, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    raw = os.path.join(work, "record.json")
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "graftbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", DATA, "--out", raw] + extra)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            tail = open(log).read()[-2000:]
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{workload} run exceeded {limit:.0f} s\n{tail}")
    if p.returncode != 0 or not os.path.isfile(raw):
        tail = open(log).read()[-3000:]
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} JVM exited {p.returncode}\n{tail}")
    record = json.load(open(raw))
    shutil.rmtree(work, ignore_errors=True)
    return record


def save(record, result):
    d = os.path.join(OUT, "results")
    os.makedirs(d, exist_ok=True)
    name = f"{record['workload']}-s{record['seed']}-t{result['trace']}-{int(time.time() * 1000)}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump(dict(result, record=record), f)
    return os.path.join(d, name)


def record_fingerprints(cp):
    runs = [run_jvm(cp, metrics.BATCH, 1, 1, 0, ["--queries", "all"], 1500) for _ in range(2)]
    exp = metrics.expected_from(runs)
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")
    varying = sorted(k for k, v in exp["queries"].items() if "fp" not in v)
    print(f"wrote {EXPECTED}: {len(exp['queries'])} queries, "
          f"{len(varying)} checked by row count: {' '.join(varying)}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    t0 = time.time()
    cp = classpath()
    if a.record_fingerprints:
        record_fingerprints(cp)
        return
    if not a.workload:
        fail("--workload is required")
    if not os.path.isfile(EXPECTED):
        fail(f"missing {EXPECTED}")
    expected = json.load(open(EXPECTED))
    extra = []
    if a.workload == metrics.BATCH:
        extra = ["--queries", ",".join(expected["workload"])]
    # a first run also builds; the run itself must still end in time
    limit = RUN_LIMIT_S if time.time() - t0 < 5 else 880 - (time.time() - t0)
    record = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, extra, limit)
    result = metrics.evaluate(record, expected, a.trace, DATA)
    path = save(record, result)
    for name, (value, unit) in sorted(result["detail"].items()):
        print(f"{a.workload} {name} = {value} {unit}")
    st = result["settings"]
    print(f"{a.workload} settings: master={st.get('master')} "
          f"shuffle.partitions={st.get('spark.sql.shuffle.partitions')} "
          f"cores={record['cores']} heap_mb={st.get('max_heap_mb')} spark={st.get('spark.version')}")
    for p in result["problems"][:20]:
        print(f"{a.workload} CHECK FAILED: {p}")
    print(f"{a.workload} result file: {os.path.relpath(path, ROOT)}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
