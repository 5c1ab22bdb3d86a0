"""Benchmark entry point.

    python3 perfbench/run.py --workload geotile_join --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The run generates its seeded inputs
under ``.perfbench_work/``, starts one Spark driver at
``local[<nproc>]``, runs passes of the workload back to back (a closed
loop: the next pass starts when the previous one returns), checks every
op's output against the engine-free oracle, and prints one JSON object
as its last line: every end-to-end metric with ``--trace 0``, every
per-layer metric with ``--trace 1``. The line before it is a report
with the run's facts (seed, nproc, versions, input digest, per-op
medians, sample counts). ``--smoke`` shrinks every input to about 2%
so a run takes seconds of work beyond Spark's start-up.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import zipfile

STARTED = time.perf_counter()  # set-up is timed from process start
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "rsgislib_spark"
SETUP_SAMPLES = 2  # this process + fresh child processes
SMOKE_SCALE = 0.02


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_env(work: str) -> None:
    """Size Spark to this host and keep every scratch file in ``work``."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def package_zip(work: str) -> str:
    path = os.path.join(work, PKG + ".zip")
    with zipfile.ZipFile(path, "w") as zf:
        for root, _, files in os.walk(os.path.join(ROOT, PKG)):
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    zf.write(p, os.path.relpath(p, ROOT))
    return path


def setup(work: str):
    """Start the session and ship the package: import, get_spark,
    addPyFile, and one Python-worker task that imports the package.
    Returns (spark, seconds since process start, get_spark_s)."""
    from rsgislib_spark.session import get_spark

    t1 = time.perf_counter()
    # the heap starts at its full size, every page touched: a heap
    # that grows on demand made peak memory and write times bimodal
    # from run to run
    spark = get_spark("perfbench", **{
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            f"-XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    })
    get_spark_s = time.perf_counter() - t1
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(package_zip(work))
    spark.sparkContext.parallelize([0], 1).map(
        lambda _: __import__(PKG).__version__).collect()
    return spark, time.perf_counter() - STARTED, get_spark_s


def stop(spark) -> None:
    """Stop Spark and wait for the JVM and every child to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap_children()


def reap_children() -> None:
    import spans

    kids = spans.children().get(os.getpid(), [])
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 20
    for pid in kids:
        while time.time() < deadline:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    break
            except ChildProcessError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass


def setup_sample(work: str) -> None:
    """Child mode: one fresh-process set-up, printed as JSON."""
    host_env(work)
    spark, setup_s, _ = setup(work)
    stop(spark)
    print(json.dumps({"setup_s": setup_s}))


def child_setup(work: str) -> float:
    cmd = [sys.executable, os.path.abspath(__file__), "--setup-sample",
           "--work", work]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=120, check=True, cwd=ROOT)
    return json.loads(out.stdout.strip().splitlines()[-1])["setup_s"]


class Loop:
    """Closed-loop pass runner: op timings, failures, answers."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.op_times: dict = {name: [] for name, _ in wl.ops()}

    def run_pass(self) -> float:
        total = 0.0
        for name, fn in self.wl.ops():
            self.attempted += 1
            t = time.perf_counter()
            try:
                res = fn()
                dt = time.perf_counter() - t
                ok = self.wl.check(name, res)
            except Exception:  # noqa: BLE001 - a failed op is counted
                dt = time.perf_counter() - t
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                self.failed += 1
                print(f"op {name} failed or disagreed with the oracle",
                      file=sys.stderr)
            total += dt
            self.op_times[name].append(dt)
        self.wl.after_pass()
        return total


def measure(wl, seconds: float) -> tuple:
    """Back-to-back passes for ``seconds``, at least one. Returns (pass
    times, the loop that recorded them)."""
    loop = Loop(wl)
    times = []
    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() < t_end:
        times.append(loop.run_pass())
    return times, loop


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {"spark": spark.version,
            "java": jvm.System.getProperty("java.version"),
            "python": platform.python_version()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--setup-sample", action="store_true",
                    help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {ROOT}; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # both set-up samples import the same modules before the session
    import workloads

    if args.setup_sample:
        setup_sample(args.work)
        return 0
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: --workload must be one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, run_id)
    out_dir = os.path.join(base, "results")
    os.makedirs(out_dir, exist_ok=True)
    host_env(work)
    try:
        return run(args, run_id, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, run_id: str, work: str, out_dir: str) -> int:
    import spans
    import workloads

    scale = SMOKE_SCALE if args.smoke else 1.0
    steal0, total0 = spans.host_cpu()
    with spans.RssSampler() as rss:
        spark, setup_s, get_spark_s = setup(work)
        try:
            tracer = spans.Tracer(spark, run_id, enabled=False)
            wl = workloads.WORKLOADS[args.workload](
                spark, os.path.join(work, "data"), args.seed, scale, tracer)
            wl.prepare()
            cold = Loop(wl)
            cold_s = cold.run_pass()
            if args.trace:
                # one traced pass, then the untraced ones; the layer
                # breakdown reads the traced pass's spans and job groups
                tracer.enabled = True
                traced, tloop = measure(wl, 0)
                tracer.enabled = False
                plain, loop = measure(wl, args.seconds)
                tracer.enabled = True
                layer = wl.layers()
                tracer.write(os.path.join(out_dir, f"spans-{run_id}.json"))
                tracer.enabled = False
                loops = (cold, tloop, loop)
            else:
                plain, loop = measure(wl, args.seconds)
                loops = (cold, loop)
            env = versions(spark)
        finally:
            stop(spark)
    # a traced run reports no setup_s: it takes no extra samples
    setups = [setup_s] + [child_setup(work)
                          for _ in range(0 if args.trace else SETUP_SAMPLES - 1)]
    steal1, total1 = spans.host_cpu()

    attempted = sum(lp.attempted for lp in loops)
    failed = sum(lp.failed for lp in loops)
    warm = statistics.median(plain)
    op_med = {f"op.{k}_s": statistics.median(v)
              for k, v in loop.op_times.items()}
    e2e = {
        "setup_s": statistics.median(setups),
        "rows_per_s": wl.rows / warm,
        "peak_rss_mb": rss.peak / 2 ** 20,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc(),
        **env, "input_digest": wl.digest, "input_rows": wl.rows,
        "warm_passes": len(plain), "warm_pass_s": plain,
        "setup_samples_s": setups, "cold_pass_s": cold_s, "ops": op_med,
        "cold_ops": {k: v[0] for k, v in cold.op_times.items()},
        "failed_frac": failed / attempted,
        "host_steal_frac": (steal1 - steal0) / (total1 - total0),
    }
    if args.workload == "tile_writeback":
        report["out_bytes_per_row"] = wl.bytes_on_disk()[1] / wl.rows
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.trace:
        per = {m["name"]: 0.0 for m in bench["per_layer"]}
        per.update(layer)
        per.update(op_med)
        per["session.get_spark_s"] = get_spark_s
        per["cold_pass_s"] = cold_s
        per["failed_frac"] = failed / attempted
        per["out_bytes_per_row"] = report.get("out_bytes_per_row", 0.0)
        per["trace.overhead_s"] = (statistics.median(traced)
                                   - statistics.median(plain))
        metrics = {m["name"]: {"value": float(per[m["name"]]), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        report["traced_pass_s"] = traced
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    report["metrics"] = {k: v["value"] for k, v in metrics.items()}
    with open(os.path.join(out_dir, f"result-{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("# " + json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
