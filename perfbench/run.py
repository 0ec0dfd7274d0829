#!/usr/bin/env python3
"""Repository benchmark: run one workload and print one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload board --seed 1 --seconds 15 --trace 0

Workloads: board, cdc_pipeline (see perfbench/README.md).
The first run in a checkout compiles the engine and the harness with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. `--trace 1` reports per-layer metrics instead of end-to-end
ones and writes spans under .perfbench_work/traces/.
"""
import argparse, hashlib, json, os, shutil, signal, subprocess, sys, time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected", "boards.tsv")
WORKLOADS = ("board", "cdc_pipeline")
JVM_TIMEOUT_S = 170

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles, so an edited tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source digest; return the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=log, text=True, timeout=800)
    lines = [l.strip() for l in p.stdout.splitlines()]
    with open(log_path, "a") as log:
        log.write(p.stdout)
    cp = [l for l in lines if "graft-perfbench" not in l and ":" in l
          and l.split(":")[0].endswith("classes")]
    if p.returncode != 0 or not cp:
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    return cp[-1]


def jvm_command(classpath, tmp, argv):
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Duser.timezone=UTC", f"-Xmx{heap}", "-XX:+ExitOnOutOfMemoryError",
             "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "graft.perfbench.Main"] + argv)


def jvm_env(local):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    env["SPARK_GRAFT_SF_DIR"] = DATA
    env["SPARK_LOCAL_DIRS"] = local
    return env


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from the root of a full checkout")
    if not os.path.isdir(DATA):
        fail("benchmark data missing")
    if not os.path.exists(EXPECTED):
        fail("expected board results missing")

    classpath = build()
    work = os.path.join(WORK_ROOT, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = jvm_env(local)
    argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--work", work,
            "--expected", EXPECTED, "--t0-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}.log")
    result = None
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(jvm_command(classpath, tmp, argv),
                                 cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                                 text=True, start_new_session=True)
            def stop(signum, _frame):
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"workload exceeded {JVM_TIMEOUT_S} s; see {log_path}")
        for line in out.splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
        if p.returncode != 0 or result is None:
            fail(f"workload exited {p.returncode} without a result; see {log_path}")
        if a.trace:
            traces = os.path.join(WORK_ROOT, "traces")
            os.makedirs(traces, exist_ok=True)
            for f in os.listdir(work):
                if f.endswith(".jsonl"):
                    shutil.move(os.path.join(work, f), os.path.join(traces, f))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = result["metrics"]
    missing = [k for k, v in metrics.items() if v["value"] is None]
    correct = result["failed"] == 0 and not missing
    print("perfbench " + a.workload + " " +
          " ".join(f"{k}={v}" for k, v in sorted(result["info"].items())))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
