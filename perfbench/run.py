"""Repository benchmark: one workload per invocation, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload {extract,curate} \\
        --seed N --seconds S --trace {0,1} [--tiny]

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
prints its per-layer metrics and writes the spans to
``.perfbench/traces/``. ``--tiny`` shrinks every input for a smoke run.
All scratch files live under ``.perfbench/work/`` and are removed on exit.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE_DIR_DEFAULT = "/tmp/ocr_machine_spark_goldens"
SETUP_REPS = 3
CORE_SAMPLE = 2000  # pages for the in-process core/ probe (trace only)


def _pin_environment(work: str) -> dict:
    """Environment every run is pinned to; set before the JVM starts so the
    driver JVM and its Python workers inherit it."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    # a quarter of the box's RAM, at most 4g: session.py's 24g default is
    # sized for a 128 GiB host
    heap = f"{max(1, min(4, mem_gb // 4))}g"
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=heap,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
    )
    return {"cores": cores, "mem_total_gb": mem_gb, "driver_heap": heap}


def _start_spark(work: str, heap: str):
    from ocr_machine_spark import session

    # keep Spark's scratch inside the checkout (session.py would use /dev/shm)
    session._local_dir = lambda: os.path.join(work, "local")
    spark = session.get_spark(
        app="perfbench",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.port": "0",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a pre-touched, fixed-size heap: the resident size of the JVM no
            # longer depends on when G1 decides to grow the heap, so
            # peak_rss_mb moves with off-heap and Python-worker memory
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _redirect_fixture_dir(path: str) -> None:
    """The library's by-construction fixture writers default to a shared
    directory under /tmp; point those defaults into this run's work dir."""
    from ocr_machine_spark.sources import dedup_golden, ivf_golden, media_golden, pages, warc

    for mod in (dedup_golden, ivf_golden, media_golden, pages, warc):
        for fn in vars(mod).values():
            defaults = getattr(fn, "__defaults__", None)
            if defaults and FIXTURE_DIR_DEFAULT in defaults:
                fn.__defaults__ = tuple(path if d == FIXTURE_DIR_DEFAULT else d for d in defaults)


def _stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def _timed(fn, *a) -> float:
    t0 = time.perf_counter()
    fn(*a)
    return time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("extract", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "ocr_machine_spark")) and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: {ROOT} holds no ocr_machine_spark source tree", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    env = _pin_environment(work)
    sys.path.insert(0, ROOT)
    import harness

    try:
        spark = _start_spark(work, env["driver_heap"])
        try:
            prov, result = _run(args, spark, work, run_id, env)
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    prov["process_s"] = harness.process_age_s()
    print(json.dumps({"provenance": prov}, default=str))
    print(json.dumps(result), flush=True)
    return 0


def _run(args, spark, work: str, run_id: str, env: dict) -> tuple[dict, dict]:
    import pyarrow

    from harness import RssPeak, StealMeter, Tracer, median, process_age_s

    session_s = process_age_s()
    _redirect_fixture_dir(os.path.join(work, "fixtures"))
    from workloads import WORKLOADS

    cores = env["cores"]
    tracer = Tracer(spark, run_id, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.tiny)

    # ---- set-up: session, inputs (repeated, median), warm-up pass --------
    prep = [_timed(wl.prepare, i) for i in range(SETUP_REPS)]
    t0 = time.perf_counter()
    warm = wl.warmup()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + median(prep) + warm_s

    # ---- timed window: warm passes until --seconds have gone, at least one --
    passes = []
    with StealMeter() as steal, RssPeak() as rss:
        t_end = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < t_end:
            passes.append(wl.run_pass(len(passes)))

    t0 = time.perf_counter()
    attempted, failed = wl.check(passes)
    check_s = time.perf_counter() - t0

    wall_s = median([p.wall_s for p in passes])
    prov = {
        "workload": args.workload, "seed": args.seed, "tiny": args.tiny, "run_id": run_id,
        **env,
        "spark": spark.version, "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "steal_frac": steal.frac,
        "passes": [{"k": p.k, "wall_s": p.wall_s, "cpu_s": p.cpu_s, **p.detail} for p in (warm, *passes)],
        "setup": {"session_s": session_s, "prepare_s": prep, "warmup_s": warm_s},
        "check_s": check_s,
    }
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "ops_per_s": (median([p.ops / p.wall_s for p in passes]), "1/s"),
            "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
        }
    else:
        from layers import per_layer

        metrics, attempted, failed = per_layer(
            wl, tracer, passes[0], cores=cores, seed=args.seed, sample=CORE_SAMPLE,
            session_s=session_s, prep=prep, warm_s=warm_s,
            steal_frac=steal.frac, attempted=attempted, failed=failed,
        )
        path = os.path.join(ROOT, ".perfbench", "traces", f"{run_id}.json")
        tracer.dump(path, {"provenance": prov, "metrics": {k: v[0] for k, v in metrics.items()}})
        prov["trace_file"] = os.path.relpath(path, ROOT)

    return prov, {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
