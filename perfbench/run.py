"""Request-level benchmark of the tilegrab_spark engine.

    python3 perfbench/run.py --workload aoi_mosaic --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. One closed-loop client: a fresh
``local[nproc]`` session from the engine's own ``get_spark`` defaults,
untimed warm-up requests, then the workload's seeded request sequence in
whole rounds until ``--seconds`` have passed. Every output is checked
against the independent oracle (``oracle.py``). The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Traced runs also write their spans to
``.perfbench_work/out/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback


def _process_start_perf() -> float:
    """perf_counter() reading at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start_perf()

HERE = os.path.dirname(os.path.abspath(__file__))
TRACED_MIN = 6
END_TO_END = {"setup_s": "s", "request_p50_ms": "ms", "tiles_per_s": "1/s",
              "output_bytes_per_tile": "B"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "tiles.select_ms": "ms", "tiles.candidates_per_selected": "ratio",
    "images.scan_mb": "MB", "images.rows_read_per_tile": "ratio",
    "fetch.ms": "ms", "fetch.shuffle_mb": "MB", "fetch.rows_per_tile": "ratio",
    "mosaic.ms": "ms", "mosaic.shuffle_mb": "MB", "mosaic.groups_out": "count",
    "png.decode_ms_per_tile": "ms", "png.encode_ms_per_mpx": "ms",
    "png.encoded_bytes_per_mpx": "B",
    "write.ms": "ms", "write.mb": "MB", "lineage.ms": "ms", "lineage.rows": "count",
    "resume.filter_ms": "ms", "resume.cells_skipped": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_ms": "ms", "spark.gc_ms": "ms",
    "trace.overhead_ms": "ms", "memory.peak_mb": "MB",
}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _prepare_env(root: str, work: str):
    """Keep Spark's and Python's scratch files inside the checkout, and let
    the Python workers import the engine from it."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell')
    # the launcher JVM that spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, root)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _stop_spark(spark):
    """Stop the session, then the JVM it runs in, and wait for it to end
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="request-level engine benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tilegrab_spark", "__init__.py")):
        return _fail("no tilegrab_spark package in the current directory; "
                     "run from the root of a source checkout")
    sys.path.insert(0, HERE)
    import gen

    from workloads import WORKLOADS, Inputs

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    seed = args.seed % (1 << 32)
    work = os.path.join(root, gen.WORK_DIR)
    _prepare_env(root, work)

    # inputs come from a child process so the generator's memory and time
    # stay out of setup_s and memory.peak_mb
    t = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed)],
                   check=True, stdout=subprocess.DEVNULL)
    gen_s = time.perf_counter() - t
    inp = Inputs(gen.cache_dir(seed))

    import tilegrab_spark
    from tilegrab_spark import get_spark

    if os.path.dirname(os.path.abspath(tilegrab_spark.__file__)) != os.path.join(root, "tilegrab_spark"):
        return _fail(f"tilegrab_spark imported from {tilegrab_spark.__file__}, not the checkout")

    from probes import MemorySampler, SparkCounters, Tracer
    from workloads import CheckFailed

    nproc = os.cpu_count() or 1
    t = time.perf_counter()
    pre_s = t - T_PROCESS - gen_s  # interpreter start and imports
    spark = get_spark(master=f"local[{nproc}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t
    sampler = MemorySampler(spark.sparkContext._gateway.proc.pid) if args.trace else None
    if sampler:
        sampler.start()

    run_dir = os.path.join(work, "out", f"{args.workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    wl = WORKLOADS[args.workload](spark, inp, run_dir, nproc)
    problems: list[str] = []
    attempted = failed = wrong = 0

    def attempt(req, state, tracer=None):
        nonlocal attempted, failed, wrong
        attempted += 1
        try:
            return wl.run(req, state, tracer)
        except CheckFailed as e:
            wrong += 1
            problems.append(f"{req['id']}: {e}")
        except Exception:  # a request the engine failed: count it, keep serving
            failed += 1
            problems.append(f"{req['id']}: " + traceback.format_exc(limit=3))
        return None

    try:
        state: dict = {}
        wl.begin_round(state)
        warm = [attempt(req, state) for req in wl.warmup_requests()]
        wl.end_round(state)
        # the checks of the warm-up outputs are the benchmark's own work
        warm_s = sum(r.seconds for r in warm if r is not None)
        setup_s = pre_s + start_s + warm_s
        attempted = failed = 0  # warm-up outputs are checked but not counted

        counters = SparkCounters(spark) if args.trace else None
        tracer = Tracer(counters) if args.trace else None
        untraced, traced, spark_per_req = [], [], []
        t_run = time.perf_counter()
        ticks0 = _cpu_ticks()

        def done():
            # untraced runs time whole rounds; traced runs stop between
            # requests, after at least TRACED_MIN requests
            if tracer:
                return len(untraced) >= TRACED_MIN and time.perf_counter() - t_run >= args.seconds
            return time.perf_counter() - t_run >= args.seconds

        for rnd in wl.requests():
            if done():
                break
            state, shadow = {}, {}
            wl.begin_round(state)
            if tracer:
                wl.begin_round(shadow)
            for req in rnd:
                if tracer and done():
                    break
                mark = counters.mark() if counters else None
                res = attempt(req, state)
                if res is not None:
                    if counters:
                        spark_per_req.append(counters.since(mark))
                    res.extra = {}
                    untraced.append(res)
                if tracer:
                    first = len(tracer.spans)
                    res = attempt(req, shadow, tracer)
                    if res is not None:
                        res.extra["spans"] = (first, len(tracer.spans))
                        traced.append(res)
            wl.end_round(state)
            if tracer:
                wl.end_round(shadow)
        ticks1 = _cpu_ticks()
        if sampler:
            sampler.stop()
    finally:
        _stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    for msg in problems:
        print("perfbench:", msg, file=sys.stderr)
    if not untraced:
        return _fail("no request completed")
    secs = [r.seconds for r in untraced]
    if args.trace:
        from layers import layer_metrics

        metrics = layer_metrics(tracer, traced, untraced, spark_per_req, inp,
                                start_s=start_s, warm_s=warm_s)
        metrics["memory.peak_mb"] = sampler.peak_mb()
        print(f"perfbench: peak memory (PSS) {sampler.breakdown()}", file=sys.stderr)
        os.makedirs(os.path.join(work, "out"), exist_ok=True)
        path = os.path.join(work, "out", f"trace-{args.workload}-s{seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": seed, "spans": tracer.spans,
                       "spark_per_request": spark_per_req, "metrics": metrics}, f)
        print(f"perfbench: spans written to {path}", file=sys.stderr)
        units = PER_LAYER
    else:
        tiles = sum(r.tiles for r in untraced)
        metrics = {
            "setup_s": setup_s,
            "request_p50_ms": statistics.median(secs) * 1e3,
            "tiles_per_s": tiles / sum(secs),
            "output_bytes_per_tile": sum(r.out_bytes for r in untraced) / tiles,
        }
        units = END_TO_END
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    print(f"perfbench: {args.workload} seed={seed} requests={len(secs)} "
          f"input_gen_s={gen_s:.2f} cpu_steal_share={steal:.3f}", file=sys.stderr)
    print("perfbench: request ms " + " ".join(f"{s * 1e3:.0f}" for s in secs), file=sys.stderr)
    print(json.dumps({
        "correct": wrong == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
