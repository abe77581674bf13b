"""Closed-loop benchmark of the parquet4seastar_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One client drives one Spark
``local[nproc]`` session with one operation in flight; see README.md for
the workloads and metrics.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``).  The exit code is 0 only when every check passed.
Everything the run writes stays under ``.bench_build/p4s`` in the
checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the program under test: without it there is nothing to measure
REQUIRED = [
    "parquet4seastar_spark/engine/encode_job.py",
    "parquet4seastar_spark/engine/decode_job.py",
    "__spark_entry__.py",
    "bench.py",
    "tools/check_oracles.py",
]
SETUPS = 3  # set-ups per run; setup_s is their median
T_START = time.perf_counter()


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    from .workloads import WORKLOADS

    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["bench", "tiny"], default="bench",
                    help="input size; 'tiny' is the self-test size")
    return ap.parse_args(argv)


def _environment(build: str) -> None:
    """Keep every file Spark, the JVM, Python and the native-kernel build
    write inside the checkout (the workers inherit this environment)."""
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["XDG_CACHE_HOME"] = os.path.join(build, "cache")
    # the JVM's perf-data file would go to /tmp whatever the temp dir is
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the engine's own defaults (driver heap, cores), not the caller's
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def _source_id() -> dict:
    """The git commit when there is one, and a digest of the engine's and
    the benchmark's Python source."""
    h = hashlib.sha256()
    files = ["__spark_entry__.py"]
    for top in ("parquet4seastar_spark", "perfbench"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names if n.endswith(".py")]
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    commit = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        commit = r.stdout.strip() or "none"
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def _check_stored_repeat(build: str, key: str, stored: tuple) -> list[str]:
    """The stored byte counts of one seed must not change across runs of the
    same source."""
    path = os.path.join(build, "stored_bytes.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if key in seen and tuple(seen[key]) != tuple(stored):
        return [f"stored_ratio.across_runs: {tuple(stored)} != {tuple(seen[key])}"]
    seen[key] = list(stored)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(seen, f)
    os.replace(tmp, path)
    return []


def _measure(w, monitor, seconds: float, trace: bool):
    """Run operations until ``seconds`` have passed and the workload has
    its minimum; returns (ops, peak RSS, steal seconds)."""
    from .procmon import steal_seconds
    from .workloads import checked

    ops = []
    steal0 = steal_seconds()
    t_end = time.perf_counter() + seconds
    i = 0
    while True:
        key = w.step(i)
        monitor.reset_peak()
        op = checked(lambda: w.op(key, trace), key)
        op.peak_mb = monitor.peak_mb()
        ops.append(op)
        i += 1
        if time.perf_counter() >= t_end and w.enough(i):
            break
    peak = {k: max(o.peak_mb[k] for o in ops) for k in ops[0].peak_mb}
    return ops, peak, steal_seconds() - steal0


def _walls(w, ops) -> tuple[float, float]:
    """(wall_s, tracing overhead as a fraction of the untraced wall).

    A traced op's wall includes the reading of Spark's records; that
    reading is timed on its own, so the op's untraced wall is the
    difference."""
    walls = [o.wall for o in ops]
    read = sum(o.trace_s for o in ops)
    return w.wall(walls), read / (sum(walls) - read)


def _spec() -> dict[str, dict[str, str]]:
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} as
    BENCHMARK.json at the checkout root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def run(args, build: str, monitor) -> tuple[dict, list, list[str], dict]:
    """(metrics, ops, run-level failures, environment record) of one run."""
    from .workloads import WORKLOADS, Ctx

    spec = _spec()

    run_dir = os.path.join(build, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    ctx = Ctx(run_dir, args.seed, args.scale, len(os.sched_getaffinity(0)))
    w = WORKLOADS[args.workload](ctx)
    try:
        setup = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            w.setup()
            setup.append(time.perf_counter() - t0)
        phases = {"setup": time.perf_counter()}
        w.prepare()
        phases["prepare"] = time.perf_counter()
        warm = w.warmup()
        phases["warmup"] = time.perf_counter()
        ops, peak, steal = _measure(w, monitor, args.seconds, bool(args.trace))
        phases["measure"] = time.perf_counter()
        extra, failures = w.finish()
        src = _source_id()
        failures += _check_stored_repeat(
            build, f"{w.name}:{args.seed}:{args.scale}:{src['source_sha256']}", extra["stored"]
        )
        wall, overhead = _walls(w, ops)
        e2e = {
            "setup_s": statistics.median(setup),
            "wall_s": wall,
            "throughput_mb_s": w.content_mb() / wall,
            "stored_ratio": extra["stored_ratio"],
            "worker_peak_rss_mb": peak["python"],
        }
        layer = dict.fromkeys(spec["per_layer"], 0.0)
        layer.update({
            "session.jvm_launch_s": ctx.session_starts[0],
            "session.start_s": statistics.median(ctx.session_starts[1:] or ctx.session_starts),
            "generator.s": statistics.median(w.generate_s),
            "native.load_s": ctx.native_load_s,
            "native.loaded": float(ctx.native_loaded),
            "env.nproc": ctx.nproc,
            "env.steal_s": steal,
            "rss.total_peak_mb": peak["total"],
            "rss.jvm_peak_mb": peak["jvm"],
            "rss.python_peak_mb": peak["python"],
            "trace.overhead_frac": overhead,
        })
        layer.update({k: v for k, v in extra.items() if k in layer})
        if args.trace:
            per_op: dict[str, list] = {}
            for o in ops:
                for k, v in o.layers.items():
                    per_op.setdefault(k, []).append(v)
            layer.update({k: statistics.median(v) for k, v in per_op.items()})
            extra_layers, bad = w.trace_extra()
            layer.update(extra_layers)
            failures += bad
            zero = [k for k in w.exercised if not layer[k] > 0]
            if zero:
                failures.append(f"trace.zero: exercised layers read 0: {zero}")
        phases["trace"] = time.perf_counter()
        env = {
            "workload": w.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "nproc": ctx.nproc,
            "steal_s_during_measurement": steal,
            "peak_rss_mb_during_measurement": peak,
            "spark": ctx.spark.version, "pyarrow": __import__("pyarrow").__version__,
            "native_kernel": "loaded" if ctx.native_loaded else "numpy fallback",
            **src,
            "setup_s_each": setup,
            "phase_end_s": {k: v - T_START for k, v in phases.items()},
            "warmup_ops": [(o.key, o.wall) for o in warm],
            "ops": [(o.key, o.wall, o.layers, o.peak_mb) for o in ops],
        }
        metrics, units = (layer, spec["per_layer"]) if args.trace else (e2e, spec["end_to_end"])
        if set(metrics) != set(units):
            raise RuntimeError(
                f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}"
            )
        out = {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}
        return out, warm + ops, failures, env
    finally:
        try:
            if ctx.spark is not None:
                ctx.spark.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def _shutdown_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone (OOM kill); reap below
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _parse(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in {ROOT}: missing {missing}", file=sys.stderr)
        return 2
    build = os.path.join(ROOT, ".bench_build", "p4s")
    _environment(build)
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)
    from .procmon import TreeMonitor

    monitor = TreeMonitor().start()
    metrics, ops, failures, env = {}, [], [], {}
    try:
        metrics, ops, failures, env = run(args, build, monitor)
    except Exception as e:  # a failed set-up or run-level step fails the run
        traceback.print_exc(file=sys.stderr)
        failures = [f"run.exception: {type(e).__name__}: {str(e)[:300]}"]
    finally:
        try:
            _shutdown_jvm()
        finally:
            monitor.close()
            monitor.reap()
    # a run-level failure (set-up, final verify, stored bytes across runs)
    # counts as a failed op when no measured op failed
    attempted = max(len(ops), 1)
    failed = sum(1 for o in ops if o.failures) or int(bool(failures))
    failures = [f for o in ops for f in o.failures] + failures
    report = {**env, "elapsed_s": time.perf_counter() - T_START, "failed_frac": failed / attempted,
              "failures": failures, "metrics": metrics}
    with open(os.path.join(build, f"last_{args.workload}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for k, v in metrics.items():
        print(f"[perfbench] {k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    for f in failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    print(f"[perfbench] failed_frac = {failed / attempted:.4g} ({failed} of {attempted} ops)",
          file=sys.stderr)
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    # import as the ``perfbench`` package from the checkout root, not as
    # loose modules from this directory
    sys.path[0] = ROOT
    from perfbench.run import main as _main

    sys.exit(_main())
