"""Benchmark of the paper's pipeline on this package.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Run from the repository root. It generates the seeded inputs, sets up
the program several times (a fresh SparkSession and the workload's
set-up; the median is ``setup_s``), runs timed passes for ``--seconds``
(at least one; the first starts cold), checks the outputs against
independent twins outside the timed region, and prints one line per
metric followed by one JSON object as the last line:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.

Everything it writes goes under ``.perfbench_work/`` (deleted at exit) and
``.perfbench_out/`` (one JSON artifact per run) in the current directory.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_REPS = 9
DRIVER_MEMORY = "4g"

# every end-to-end metric printed, with its unit; the result line carries
# the ones BENCHMARK.json lists
E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "games_per_s": "games/s", "op_p50_ms": "ms",
    "op_tail_ms": "ms", "cpu_s": "s", "peak_rss_mb": "MB",
    "out_bytes_per_game": "B", "failed_ratio": "1",
}


def _pin_environment(work: str) -> None:
    """Engine pinned to this host, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_GRAFT_CACHE_SCANS", None)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers (the pgn DataSource, Arrow kernels) import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData'
        f' -Dderby.system.home={work}"',
        "pyspark-shell",
    ])


def _code_digest() -> str:
    """The commit when run in a git checkout, else a digest of the package
    sources (a benchmark checkout need not be a repository)."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            check=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        h = hashlib.sha256()
        for d, _, names in sorted(os.walk(os.path.join(ROOT, "lichess_db_spark"))):
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(d, n), "rb") as fh:
                        h.update(fh.read())
        return "src-sha256:" + h.hexdigest()[:16]


def _environment(spark, seed: int) -> dict:
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEMORY,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "commit": _code_digest(),
        "comparable_with": "runs of this benchmark on this host only; the repo's "
                           "BENCH_*/PERF_* files are local[32] on another host",
    }


def _tail(samples: list[float]) -> tuple[float, int, int]:
    """The highest percentile with at least 10 samples beyond it
    (nearest rank); with fewer than 11 samples, the maximum."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100, n
    rank = n - 10  # samples strictly above index rank-1: 10
    return s[rank - 1], int(100 * rank / n), n


def _session(spark=None):
    from lichess_db_spark.session import get_spark

    if spark is not None:
        spark.stop()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _shutdown(spark, proc) -> None:
    """Stop Spark, end the JVM and wait until every descendant is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    if spark is not None:
        spark.stop()
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits on stdin EOF
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    proc.close()
    proc.reap()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    _pin_environment(work)
    sys.path.insert(0, ROOT)
    proc = spark = None
    try:
        from perfbench.probes import ProcTree, SparkWindow, Tracer
        from perfbench.workloads import WORKLOADS

        proc = ProcTree()
        t = time.perf_counter()
        spark = _session()
        session_start_s = time.perf_counter() - t

        # the benchmark's own inputs, once; not part of setup_s
        wl = WORKLOADS[args.workload](work, args.seed, args.size)
        t = time.perf_counter()
        wl.generate()
        inputs_s = time.perf_counter() - t

        # the program's set-up, repeated: fresh session + workload set-up
        setups = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            spark = _session(spark)
            wl.prepare(spark)
            setups.append(time.perf_counter() - t)

        # Timed passes start cold, as each invocation of an ingest job in a
        # fresh process does; a pass repeats until --seconds have elapsed.
        win = SparkWindow(spark)
        passes, cpu, windows = [], [], []
        deadline = time.perf_counter() + args.seconds
        while not passes or (time.perf_counter() < deadline and not args.trace):
            c0, mark = proc.cpu(), win.mark()
            proc.window_worker_peak = 0
            gc.disable()
            r = wl.run_pass(len(passes))
            gc.enable()
            c1 = proc.cpu()
            windows.append(win.since(mark))
            windows[-1]["pyworker_peak_rss_mb"] = proc.window_worker_peak / 2**20
            cpu.append({k: c1[k] - c0[k] for k in c1})
            passes.append(r)
            gc.collect()
        attempted = sum(len(p.ops_ms) for p in passes)
        t = time.perf_counter()
        failed = min(wl.check(), attempted)
        check_s = time.perf_counter() - t

        layer = {}
        if args.trace:
            # traced and untraced passes, both warm, give the tracing overhead
            tracer = Tracer()
            layer = wl.traced_pass(len(passes), tracer, win)
            # the "pass" span excludes the untimed counts taken after it
            span = next(s for s in tracer.spans if s["name"] == "pass")
            traced_s = span["end"] - span["start"]
            layer["trace.overhead_s"] = traced_s - wl.run_pass(len(passes) + 1).wall_s

        env = _environment(spark, args.seed)
        pass_s = statistics.median(p.wall_s for p in passes)
        ops = [o for p in passes for o in p.ops_ms]
        tail, pct, n_ops = _tail(ops)
        e2e = {
            "setup_s": statistics.median(setups),
            "pass_s": pass_s,
            "op_p50_ms": statistics.median(ops),
            "op_tail_ms": tail,
            "cpu_s": statistics.median(c["total"] for c in cpu),
            "peak_rss_mb": proc.peak_rss / 2**20,
            "failed_ratio": failed / max(attempted, 1),
        }
        e2e["games_per_s"] = passes[0].games / pass_s
        e2e["out_bytes_per_game"] = statistics.median(p.out_bytes_per_game for p in passes)

        last = windows[-1]
        per_layer = {
            "session.start_s": session_start_s,
            "spark.jobs": last["jobs"], "spark.stages": last["stages"],
            "spark.tasks": last["tasks"], "spark.executor_run_s": last["run_s"],
            "spark.executor_cpu_s": last["cpu_s"], "spark.wait_s": last["wait_s"],
            "spark.gc_s": last["gc_s"], "spark.input_bytes": last["input_bytes"],
            "spark.shuffle_write_bytes": last["shuffle_write_bytes"],
            "spark.spill_bytes": last["spill_bytes"], "spark.task_skew": last["task_skew"],
            "proc.driver_cpu_s": cpu[-1]["driver"], "proc.jvm_cpu_s": cpu[-1]["jvm"],
            "proc.pyworker_cpu_s": cpu[-1]["pyworker"],
            "proc.pyworker_peak_rss_mb": last["pyworker_peak_rss_mb"],
        }
        per_layer.update({k: v for k, v in layer.items() if not isinstance(v, list)})

        print(f"# {args.workload} seed={args.seed} passes={len(passes)} "
              f"setup_reps={SETUP_REPS} "
              f"cpus={env['SPARK_GRAFT_CPUS']} inputs={json.dumps(wl.describe())}")
        for k, v in e2e.items():
            note = f"  (p{pct} of {n_ops} ops)" if k == "op_tail_ms" else ""
            print(f"{k} {v:.6g} {E2E_UNITS[k]}{note}")
        if args.trace:
            for k, v in per_layer.items():
                print(f"layer {k} {v:.6g}")
        for f in wl.failures:
            print(f"FAILED {f}")

        artifact = {
            "workload": args.workload, "trace": args.trace, "environment": env,
            "inputs": wl.describe(), "inputs_s": inputs_s, "setup_s_reps": setups,
            "check_s": check_s,
            "passes": [{"wall_s": p.wall_s, "ops_ms": p.ops_ms, "cpu_s": c, "spark": w,
                        **{k: v for k, v in p.extra.items() if k != "layers"}}
                       for p, c, w in zip(passes, cpu, windows)],
            "end_to_end": e2e, "op_tail_percentile": pct, "op_samples": n_ops,
            "per_layer": {**per_layer, **{k: v for k, v in layer.items() if isinstance(v, list)}},
            "failures": wl.failures,
        }
        if args.trace:
            artifact["spans"] = tracer.spans
        os.makedirs(OUT, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(OUT, name), "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)

        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        source = per_layer if args.trace else e2e
        metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if proc is not None:
            _shutdown(spark, proc)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)  # only when no concurrent run still uses it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
