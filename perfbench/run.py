"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark (build.py), generates the fixture tables
once per checkout (gen_fixtures.py), then runs one workload in a fresh JVM
on local[4] with its temp dir and Spark local dir inside a per-run
workspace, which is deleted afterwards. The last stdout line is the result
JSON: the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1. A traced run also leaves its span file in
.bench_build/traces/ (see report.py).
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

sys.dont_write_bytecode = True
import build  # noqa: E402
import gen_fixtures  # noqa: E402
import report  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "3g"
RUN_TIMEOUT_S = 170
WORKLOADS = ("stream_score", "batch_corpus")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fixtures():
    """Generates the fixture tables once; the directory name pins the generator."""
    with open(gen_fixtures.__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(build.BUILD, f"fixtures-{tag}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp)
        gen_fixtures.write(tmp)
        try:
            os.rename(tmp, out)
        except OSError:  # a concurrent run generated them first
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    wanted = [m["name"] for m in spec()["per_layer" if a.trace else "end_to_end"]]
    classes = build.build()
    fx = fixtures()
    started = time.time()
    ws = os.path.join(build.BUILD, f"run-{os.getpid()}")
    shutil.rmtree(ws, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(ws, d))
    trace_out = os.path.join(build.BUILD, "traces", f"{a.workload}-{a.seed}.jsonl")
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(ws, 'tmp')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--fixtures", fx, "--workspace", ws,
            "--digests", os.path.join(HERE, "digests.txt"), "--trace-out", trace_out]
    log_path = os.path.join(ws, "jvm.log")
    try:
        with open(log_path, "w") as log:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(ws, "local"))
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                 env=env, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if p.returncode != 0 or not lines:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"perfbench: JVM exited with {p.returncode}")
        res = json.loads(lines[-1])
        if a.trace:
            spans = report.load(trace_out)
            units = next((s["attrs"].get("units", 1.0) for s in spans
                          if s["kind"] == "workload"), 1.0)
            for kind, (_, _, own) in report.self_times(spans).items():
                res["metrics"][f"trace.self_ms.{kind}"] = {"value": own / units, "unit": "ms"}
            sys.stderr.write(report.table(spans) + "\n")
        missing = [n for n in wanted if n not in res["metrics"]]
        if missing:
            raise SystemExit(f"perfbench: metrics missing from the run: {missing}")
        res["metrics"] = {n: res["metrics"][n] for n in wanted}
        sys.stderr.write(f"perfbench: {a.workload} seed {a.seed} took "
                         f"{time.time() - started:.1f} s\n")
        print(json.dumps(res))
    finally:
        shutil.rmtree(ws, ignore_errors=True)


if __name__ == "__main__":
    main()
