"""graft PR benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload route_skew --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (perfbench/build.py), then
runs one workload for one seed in a fresh JVM on local[cores]: inputs are
generated from the seed (untimed), outputs are checked after every timed
operation, and the last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). Workloads, generator parameters and
engine settings are in perfbench/workloads.json; BENCHMARK.json names the
metrics. `--size tiny` runs the same code path on small inputs.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of build products
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 170  # every run must end within 180 s of its start (build excluded)

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def load_config(workload, size):
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if workload not in cfg["workloads"]:
        fail(f"unknown workload {workload!r}; known: {sorted(cfg['workloads'])}")
    w = cfg["workloads"][workload]
    params = dict(w["full"])
    if size == "tiny":
        params.update(w["tiny"])
    return cfg["engine"], params


def memcpy_gbps(mb=64, reps=4):
    """Single-thread copy bandwidth: a diagnostic of memory-bus contention."""
    src = bytearray(mb << 20)
    dst = bytearray(mb << 20)
    t = time.perf_counter()
    for _ in range(reps):
        dst[:] = src
    return mb * reps / 1024 / (time.perf_counter() - t)


def tail_percentile(xs):
    """The highest of p50/p75/p90/p95/p99 with at least ten samples beyond it."""
    n = len(xs)
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    if best is None:
        return None, None
    return best, statistics.quantiles(xs, n=100, method="inclusive")[best - 1]


class Jvm:
    """One benchmark JVM; killed with its process group if it overruns."""

    def __init__(self, classes, engine, run_dir, args, log):
        self.t0 = time.time_ns()
        jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
        # a fixed heap size: the collector neither grows nor shrinks the
        # heap between operations, which would add to their time
        cmd = ["java", f"-Xms{engine['heap']}", f"-Xmx{engine['heap']}",
               f"-XX:ActiveProcessorCount={engine['cores']}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classes + os.pathsep + jars, "graftbench.Bench",
                "--dir", run_dir, "--t0-ns", str(self.t0),
                "--cores", str(engine["cores"]),
                "--partitions", str(engine["shuffle_partitions"])] + args
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                     text=True, start_new_session=True)

    def wait(self, deadline):
        """Echoes the JVM's stdout; returns its exit code, None if it overran."""
        echo = threading.Thread(target=lambda: [print(line, end="", flush=True)
                                                for line in self.proc.stdout], daemon=True)
        echo.start()
        try:
            rc = self.proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            self.kill()
        echo.join()
        return rc

    def kill(self):
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject", default="none",
                    help="corrupt every operation's output before its check "
                         "(tests of the checks): keeper, pair, line or manifest")
    a = ap.parse_args()
    # a terminated run still stops its JVM (the finally block below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists("BENCHMARK.json"):
        fail("BENCHMARK.json not found; run from the repository root")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    engine, params = load_config(a.workload, a.size)
    engine = dict(engine, cores=min(engine["cores"], len(os.sched_getaffinity(0))))
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(str(e))

    start = time.monotonic()
    deadline = start + RUN_LIMIT_S
    run_dir = os.path.abspath(os.path.join(build.BUILD_DIR, f"run-{os.getpid()}"))
    trace_dir = os.path.join(build.BUILD_DIR, "traces")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "tmp", "out", "in"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(trace_dir, exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    res = os.path.join(run_dir, "result.json")
    trace_file = os.path.abspath(os.path.join(
        trace_dir, f"{a.workload}-seed{a.seed}-{a.size}.json"))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--result", res, "--trace-file", trace_file if a.trace else "",
            "--inject", a.inject]
    for k, v in sorted(params.items()):
        args += ["--param", f"{k}={v}"]
    jvm = None
    try:
        with open(log_path, "w") as log:
            noise = {"memcpy_gbps_before": memcpy_gbps()}
            jvm = Jvm(classes, engine, run_dir, args, log)
            rc = jvm.wait(deadline)
            noise["memcpy_gbps_after"] = memcpy_gbps()
        if rc != 0 or not os.path.exists(res):
            why = "timed out" if rc is None else f"exited with {rc}"
            fail(f"benchmark JVM {why}; JVM log:\n{tail(log_path)}", 1)
        with open(res) as f:
            r = json.load(f)
    finally:
        if jvm is not None:
            jvm.kill()
        shutil.rmtree(run_dir, ignore_errors=True)

    report(a, spec, engine, params, r, noise, trace_file)


def tail(path, n=40):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def report(a, spec, engine, params, r, noise, trace_file):
    samples = r["samples"]
    failed = r["failed"]
    attempted = max(1, r["attempted"])
    # a run whose operations all failed still prints finite numbers
    wall = statistics.median(samples) if samples else 0.0
    figures = {  # the end-to-end metrics plus first_run_s and peak_rss_mb
        "wall_s": ("s", wall),
        "first_run_s": ("s", r["first_run_s"]),
        "setup_s": ("s", r["setup_s"]),
        "retained_mb": ("MB", r["retained_mb"]),
        "peak_rss_mb": ("MB", r["peak_rss_mb"]),
    }
    p, tail_v = tail_percentile(samples)
    print(f"# workload {a.workload} seed {a.seed} size {a.size}: {len(samples)} timed "
          f"operations after the first, {r['records']} input records each; "
          f"local[{engine['cores']}], {engine['shuffle_partitions']} shuffle partitions, "
          f"heap {engine['heap']}")
    print(f"# params {json.dumps(params, sort_keys=True)}")
    print(f"# input {json.dumps(r['info'], sort_keys=True)}")
    print("# untimed: " + ", ".join(f"{k} {v:.3f} s" for k, v in sorted(r["untimed"].items())))
    for name, (unit, v) in figures.items():
        print(f"{name} = {v:.6g} {unit}")
    for ph, xs in sorted(r["phases"].items()):
        print(f"{ph} = {statistics.median(xs):.6g} s (median of {len(xs)})")
    if "write_s" in r["phases"]:
        turns = r["info"]["turns"]
        print(f"turns_per_s = {turns / statistics.median(r['phases']['write_s']):.6g} turns/s "
              f"({turns} turns through the graft.Main default path)")
    if p is None:
        print(f"wall tail: fewer than 20 samples ({len(samples)}), median only")
    else:
        print(f"wall_p{p}_s = {tail_v:.6g} s ({len(samples)} samples)")
    print(f"error_rate = {failed / attempted:.6g} ratio ({failed} of {attempted} failed)")
    print(f"host memcpy probe: {json.dumps(noise, sort_keys=True)} (diagnostic only; "
          "CPU steal and idle are in each sample line)")
    for err in r["errors"]:
        print(f"error: {err}")

    if a.trace:
        layers = r["per_layer"]
        for name in sorted(layers):
            print(f"{name} = {layers[name]:.6g}")
        selfs = sum(v for k, v in layers.items()
                    if k.endswith(".self_s") or k in ("semdedup.train_s", "sink.parquet_s"))
        print(f"# per-layer self times sum to {selfs:.6g} s; traced total "
              f"{layers['trace.total_s']:.6g} s; tracing overhead "
              f"{layers['trace.overhead_s']:.6g} s against untraced wall_s; "
              f"{r['trace_reps']} ladder reps; spans in {trace_file}")
        declared = spec["per_layer"]
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in declared}
    else:
        metrics = {m["name"]: {"value": figures[m["name"]][1], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = failed == 0 and bool(samples)
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
