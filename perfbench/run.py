"""Seeded end-to-end benchmark of the KG-construction engine.

    python3 perfbench/run.py --workload kg_build|encoder_extract|dedup_corpus \
        --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. generates the workload's inputs from ``--seed`` (documents, gazetteer,
   embeddings) and the single-process reference the output check uses;
2. records the host CPU noise probe from bench.py;
3. sets up: launches the JVM and starts a Spark session on
   ``local[<cores>]`` with a fixed JVM heap (-Xms = -Xmx) and the JIT
   held to its first tier (see build_spark), makes the
   encoder broadcast, and runs one untimed, cold pass of
   the job over the whole input, its output checked like the timed ones.
   ``setup_s`` is its wall time. A warm-up over a 10% slice left the
   first timed repetition 1.3-1.7x slower than the next, so the pass
   reads the whole input;
4. repeats the warm job while fewer than ``--seconds`` have passed, and
   at least ``MIN_REPS`` times so the median has a middle, checking every
   output and releasing cached state between repetitions;
5. with ``--trace 1``, also runs the job once with a span around every
   layer call (see tracing.py) and prints the per-layer metrics instead.

End-to-end metrics: ``job_s`` is the median repetition's wall time, from
input read to the checked result on the driver; ``docs_per_s`` is input
documents / ``job_s``; ``setup_s`` is step 3; ``peak_rss_mb`` is the median
over repetitions of the peak summed resident memory of the driver, the
JVM and its Python workers (each page counted once, see measure.py).
A repetition whose output fails its check, or that raises, is a failed
operation.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. A detail sidecar (every repetition, the noise probe, the input
properties, and for traced runs the spans and per-layer table) goes to
``.bench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
HEAP = "1g"          # fixed JVM heap, set as both -Xms and -Xmx
NOISE_PROBE_S = 3
WARMUP_PASSES = 1
MIN_REPS = 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


def build_spark(work_dir: str, event_log: str | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores()}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            # C1 only and the throughput collector: with the default C2
            # tier and G1, kg_build's repetitions kept speeding up for a
            # dozen passes (13.3 s -> 9.2 s) and each JVM settled at its
            # own level, so job_s spread 18.6% over ten seeds; with these
            # the first timed repetition matches the rest
            f"-Xms{HEAP} -XX:TieredStopAtLevel=1 -XX:+UseParallelGC "
            f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}",
        )
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(cores(), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # bound the driver's status store: with the defaults it keeps 1000
        # jobs/stages and 100k tasks, and repetitions slow as it fills
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.sql.ui.retainedExecutions", "20")
    )
    if event_log:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", event_log)
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        import subprocess

        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def prepare_env(work_dir: str) -> None:
    """Environment the JVM and its Python workers inherit: one BLAS thread
    per worker, one string-hash seed for every worker (so set and dict
    layouts do not change from run to run), the engine on PYTHONPATH,
    temp files inside the work dir."""
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["PYTHONHASHSEED"] = "0"
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    import tempfile

    tempfile.tempdir = tmp


def attempt(job, spark) -> dict:
    """One operation: run the job, check its output, release its state.
    A wrong output or an exception is a failed operation, not a failed run."""
    import bench

    from measure import PeakRss, steal_s

    steal0 = steal_s()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        try:
            res = job.run(spark)
            errs = job.check(res)
        except Exception as e:
            errs, res = [f"{type(e).__name__}: {e}"], None
        dt = time.perf_counter() - t0
    err = "; ".join(errs) if errs else None
    rec = {
        "job_s": dt, "peak_rss_mb": rss.peak_mb, "peak_procs_mb": rss.peak_procs,
        "host_steal_s": steal_s() - steal0, "error": err,
        "counts": job.counts(res) if res is not None and not err else None,
    }
    job.release()
    bench._drop_leaked_state(spark)
    return rec


def set_up(job, work_dir: str, event_log: str | None):
    """Session start + per-session job set-up + warm-up passes; returns
    the session, the set-up seconds and the warm-up passes' records (their
    outputs are checked like any other operation's)."""
    t0 = time.perf_counter()
    spark = build_spark(work_dir, event_log)
    job.setup(spark)
    warmup = [attempt(job, spark) for _ in range(WARMUP_PASSES)]
    return spark, time.perf_counter() - t0, warmup


def timed_reps(job, spark, seconds: float) -> list:
    """Warm repetitions until ``seconds`` have passed, at least MIN_REPS."""
    reps: list = []
    t_end = time.perf_counter() + seconds
    while len(reps) < MIN_REPS or time.perf_counter() < t_end:
        reps.append(attempt(job, spark))
    return reps


def end_to_end(reps: list, setup_s: float, n_docs: int) -> dict:
    ok = [r for r in reps if not r["error"]] or reps
    job_s = median(r["job_s"] for r in ok)
    return {
        "job_s": {"value": job_s, "unit": "s"},
        "docs_per_s": {"value": n_docs / job_s, "unit": "docs/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": median(r["peak_rss_mb"] for r in ok), "unit": "MB"},
    }


def drift(reps: list) -> float | None:
    """Median job_s of the second half of the repetitions over the first
    half's; 1.0 means no drift across repetitions."""
    xs = [r["job_s"] for r in reps]
    if len(xs) < 4:
        return None
    h = len(xs) // 2
    return median(xs[-h:]) / median(xs[:h])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_build", "encoder_extract", "dedup_corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    # the engine and bench.py must be present: a tree holding only the
    # benchmark has nothing to measure
    import bench  # noqa: F401
    import glinerswift_spark  # noqa: F401

    import gen
    import workloads

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work_dir = os.path.join(WORK, run_id)
    os.makedirs(work_dir, exist_ok=True)
    prepare_env(work_dir)
    phases: dict = {}  # wall seconds of each step of the run
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    try:
        wl = gen.make(args.workload, args.seed)
        job = workloads.JOBS[args.workload](wl, work_dir)
        job.reference()
        phase("inputs_and_reference")

        noise = bench._host_noise_probe(seconds=NOISE_PROBE_S, procs=cores())
        import multiprocessing

        for p in multiprocessing.active_children():  # the probe's spinners
            p.join()
        phase("noise_probe")

        event_log = None
        if args.trace:
            event_log = os.path.join(work_dir, "eventlog")
            os.makedirs(event_log, exist_ok=True)
        spark, setup_s, warmup = set_up(job, work_dir, event_log)
        phase("setup")
        try:
            reps = timed_reps(job, spark, args.seconds)
            phase("timed")
            traced = None
            if args.trace:
                import tracing

                traced = tracing.traced_run(job, spark, run_id)
                phase("traced")
        finally:
            spark.stop()
            stop_jvm()
        phase("stop")
        if traced is not None:
            tracing.finish(traced, event_log, cores())
        attempted = len(warmup) + len(reps) + (traced is not None)
        failed = sum(1 for r in warmup + reps if r["error"]) + (
            traced is not None and traced["error"] is not None
        )
        e2e = end_to_end(reps, setup_s, len(wl.texts))
        if traced is not None:
            metrics = tracing.per_layer_metrics(traced, e2e["job_s"]["value"])
        else:
            metrics = e2e
        detail = {
            "run_id": run_id, "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "cores": cores(),
            "heap": HEAP, "input": wl.props,
            "assumed_input_shares": gen.ASSUMED[args.workload], "host_cpu_noise": noise,
            "setup_s": setup_s, "phases_s": phases, "warmup": warmup, "reps": reps,
            "job_s_drift": drift(reps),
            "end_to_end": e2e, "metrics": metrics,
            "traced": tracing.sidecar(traced) if traced is not None else None,
        }
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, run_id + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)

    errors = [r["error"] for r in warmup + reps if r["error"]]
    if traced is not None and traced["error"]:
        errors.append(traced["error"])
    for e in errors:
        print(f"FAILED: {e}", file=sys.stderr)
    if traced is not None:
        print(tracing.layer_table(traced))
    counts = next((r["counts"] for r in reversed(reps) if r["counts"]), None)
    print(f"{args.workload} seed={args.seed} reps={len(reps)} "
          f"drift={detail['job_s_drift']} noise={noise} counts={counts}")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
