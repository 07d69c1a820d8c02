"""Run one workload of the data-plane benchmark, from the repository root:

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark if their sources changed (build.py),
runs them in one JVM on local[N], N half of min(nproc, 4), inside a fresh
scratch root that is deleted at exit, and prints, as its last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. The line before it stamps the run's host context. A traced run
also writes its spans to .bench_traces/.

    python3 perfbench/run.py --self-test   # unit tests of the statistics and tracer
    python3 perfbench/run.py --smoke       # all workloads at tiny size
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

HEAP = "-Xmx4g"
# a fixed heap and few GC and JIT threads, so the JVM's own threads leave the
# cores to Spark's tasks
JVM_FLAGS = ["-Xms4g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2"]
TIMEOUT_S = 175
SMOKE = ["ingest_refresh", "rag_serve", "analytics_mix"]
SMOKE_RESULTS = []
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def commit(root):
    head = root / ".git" / "HEAD"
    if not head.is_file():
        return "unknown (not a git checkout)"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def java_cmd(classpath, main, scratch, args, props=()):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", HEAP] + JVM_FLAGS + ["-Xss8m", f"-Djava.io.tmpdir={scratch / 'tmp'}"] +
            list(props) + opens +
            ["-cp", os.pathsep.join(classpath), main] + args)


def run_jvm(cmd, root, scratch, deadline):
    """Runs the JVM, echoing its stdout; returns (exit code, stdout lines)."""
    log = open(scratch / "stderr.log", "w")
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log, text=True)
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if time.monotonic() > deadline:
                raise TimeoutError
        proc.wait(timeout=max(1, deadline - time.monotonic()))
    except (TimeoutError, subprocess.TimeoutExpired):
        print("run: timed out", file=sys.stderr)
        return 124, lines
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        log.close()
    if proc.returncode != 0:
        sys.stderr.write((scratch / "stderr.log").read_text()[-4000:])
    return proc.returncode, lines


def metric_list(root, traced):
    spec = json.loads((root / "BENCHMARK.json").read_text())
    ms = spec["per_layer"] if traced else spec["end_to_end"]
    return ",".join(f"{m['name']}={m['unit']}" for m in ms)


def run_workload(root, classpath, workload, seed, seconds, traced, smoke, deadline, props=()):
    scratch = root / ".bench_run" / f"{'smoke' if smoke else workload}-{os.getpid()}-{time.time_ns()}"
    (scratch / "tmp").mkdir(parents=True)
    try:
        load_before = os.getloadavg()
        steal0, total0 = cpu_times()
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if traced else "0", "--smoke", "1" if smoke else "0",
                "--scratch", str(scratch), "--metrics", metric_list(root, traced)]
        code, lines = run_jvm(java_cmd(classpath, "graft.perfbench.Main", scratch, args, props),
                              root, scratch, deadline)
        if code != 0 or not lines:
            return None
        for line in lines[:-1]:
            if line.startswith('{"correct"'):
                SMOKE_RESULTS.append(json.loads(line))
                print(line)
            elif line.startswith('{"context"'):
                ctx = json.loads(line)["context"]
                steal1, total1 = cpu_times()
                ctx.update({"commit": commit(root), "nproc": nproc(),
                            "load_before": load_before, "load_after": os.getloadavg(),
                            "cpu_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
                            "jvm_heap": HEAP, "jvm_flags": JVM_FLAGS})
                print(json.dumps({"context": ctx}))
            else:
                print(line)
        result = json.loads(lines[-1])
        if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
            return None
        SMOKE_RESULTS.append(result)
        return result
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-digests", action="store_true",
                    help="rewrite digests/analytics.tsv from this run's analytics_mix results")
    a = ap.parse_args()
    root = pathlib.Path.cwd()
    if not (root / "BENCHMARK.json").is_file():
        raise SystemExit("run: BENCHMARK.json not found; run from the repository root")
    deadline = time.monotonic() + TIMEOUT_S
    classpath = build.build(root)
    # builds may take long on a first run; the run itself still gets its time
    deadline = max(deadline, time.monotonic() + 120)

    if a.self_test:
        scratch = root / ".bench_run" / f"selftest-{os.getpid()}"
        (scratch / "tmp").mkdir(parents=True)
        try:
            code, lines = run_jvm(java_cmd(classpath, "graft.perfbench.SelfTest", scratch,
                                           [str(scratch)]), root, scratch, deadline)
            print("\n".join(lines))
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        sys.exit(code)

    if a.smoke:
        # every workload at tiny size, in one JVM so it warms up once
        ok = run_workload(root, classpath, ",".join(SMOKE), a.seed, 1, bool(a.trace), True,
                          deadline) is not None
        sys.exit(0 if ok and all(r["correct"] for r in SMOKE_RESULTS) and
                 len(SMOKE_RESULTS) == len(SMOKE) else 1)

    if not a.workload:
        raise SystemExit("run: --workload is required")
    props = ["-Dperfbench.record=1"] if a.record_digests else []
    result = run_workload(root, classpath, a.workload, a.seed, a.seconds, bool(a.trace), False,
                          deadline, props)
    if result is None:
        raise SystemExit("run: the workload did not produce a result")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
