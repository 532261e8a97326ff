"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload featurize_asof --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  The workload runs in this process on
Spark ``local[<cpus of this process>]``, built by
``sonar_spark.session.get_spark`` with no settings of the benchmark's
own.  ``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics.  Progress lines go to stdout; the
last line is the JSON result.  Inputs are generated from ``--seed`` and
cached under ``.perfbench_work/cache``; everything else a run writes
goes to ``.perfbench_work/run-<pid>`` and is removed at exit.

Untraced run:
  set-up (start the session, run one warm-up iteration: ``setup_s``),
  then timed iterations until ``--seconds`` have passed and at least
  the workload's ``min_timed`` have run.  Every iteration's output is
  checked, outside its timed region.

Traced run:
  one session with the event log on: a warm-up, then traced and plain
  iterations in turn (every traced iteration in a span, its jobs in
  that span's job group), starting and ending with a traced one, until
  ``--seconds`` have passed and TRACED_MIN traced ones have run;
  then the layer sweep (perfbench/layers.py).  Spans go to
  ``.perfbench_work/spans-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# traced iterations a traced run times at least, whatever the workload
TRACED_MIN = 2
# how long stop_jvm waits for the JVM and its workers to end
STOP_TIMEOUT_S = 60.0


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def keep_inside(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run directory, so a run writes only inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SONAR_FEATURE_STORE_DIR"] = os.path.join(run_dir, "store")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the Python workers Spark starts import sonar_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def log(msg: str) -> None:
    print(msg, flush=True)


class Runner:
    """Runs iterations of one workload and counts attempts and failures."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = 0
        self.failed = 0
        self.persisted: list[int] = []

    def attempt(self, spark, tracer) -> float | None:
        """prepare, timed iterate, check.  Returns the iteration's wall
        seconds, or None when it raised or its output is wrong."""
        from perfbench.trace import persisted_rdds

        self.w.prepare()
        self.attempted += 1
        try:
            with tracer.span("iteration"):
                t0 = time.perf_counter()
                out = self.w.iterate(spark, tracer)
                dt = time.perf_counter() - t0
            problems = self.w.check(spark, out)
        except Exception:  # a failed operation is counted, and the run goes on
            traceback.print_exc()
            problems = ["raised"]
        self.persisted.append(persisted_rdds(spark))
        if problems:
            self.failed += 1
            log(f"FAILED {self.w.name} iteration {self.attempted}: {problems[:5]}")
            return None
        return dt

    def loop(self, spark, seconds: float, tracers: tuple, min_first: int) -> list[list[float]]:
        """Iterations under each of ``tracers`` in turn, starting and
        ending with the first, until ``seconds`` have passed and the
        first has run ``min_first`` iterations.  With (traced, plain)
        every plain iteration sits between two traced ones.  Returns the
        wall seconds of each tracer's iterations."""
        walls: list[list[float]] = [[] for _ in tracers]
        end = time.time() + seconds
        for i in itertools.count():
            k = i % len(tracers)
            dt = self.attempt(spark, tracers[k])
            if dt is not None:
                walls[k].append(dt)
            if k == 0 and i // len(tracers) + 1 >= min_first and time.time() >= end:
                break
        if not all(walls):
            raise RuntimeError(f"{self.w.name}: no iteration succeeded")
        return walls


def stop_jvm() -> None:
    """End the Spark JVM this process launched (it exits when its stdin
    closes) and wait until no child process of this one is left."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        gw.proc.stdin.close()
        gw.proc.wait(timeout=STOP_TIMEOUT_S)
    end = time.time() + STOP_TIMEOUT_S
    while descendants(os.getpid()):
        if time.time() > end:
            for pid in descendants(os.getpid()):
                os.kill(pid, signal.SIGKILL)
            end = float("inf")
        time.sleep(0.1)


def start_spark(w, cpus: int, extra: dict | None = None):
    from sonar_spark.session import get_spark

    return get_spark(f"perfbench-{w.name}", cpus=cpus, extra=extra)


def untraced(w, cpus: int, seconds: float) -> tuple[dict, Runner]:
    from perfbench.trace import NoTrace

    r = Runner(w)
    t0 = time.perf_counter()
    spark = start_spark(w, cpus)
    setup = time.perf_counter() - t0 + (r.attempt(spark, NoTrace()) or 0.0)
    try:
        (walls,) = r.loop(spark, seconds, (NoTrace(),), w.min_timed)
    finally:
        spark.stop()
    wall = statistics.median(walls)
    log(
        f"wall_s n={len(walls)} median={wall:.4f} min={min(walls):.4f} "
        f"max={max(walls):.4f} (fewer than 20 samples: no percentile above the median)"
    )
    return {"setup_s": setup, "wall_s": wall, "docs_per_s": w.n_docs / wall}, r


def traced(w, cpus: int, seconds: float, run_dir: str, cache: str, seed: int):
    """Plain and traced iterations alternate in one event-logged session,
    so both see the same JVM, session and warmth; their difference is
    the cost of spans and job groups (the event log is on for both)."""
    from perfbench import layers
    from perfbench.trace import (
        EVENT_LOG_CONF,
        NoTrace,
        RssSampler,
        Tracer,
        event_log_counters,
        event_log_file,
    )

    ev_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(ev_dir)
    r = Runner(w)
    t0 = time.perf_counter()
    spark = start_spark(w, cpus, {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + ev_dir})
    get_spark_s = time.perf_counter() - t0
    tracer = Tracer(spark)
    try:
        warmup_s = r.attempt(spark, NoTrace()) or 0.0
        r.persisted.clear()
        with RssSampler() as rss:
            walls, plain = r.loop(spark, seconds, (tracer, NoTrace()), TRACED_MIN)
        loop_spans = [s for s in tracer.spans if s.name == "iteration"]
        with tracer.span("sweep"):
            m, sweep_attempted, problems = layers.sweep(spark, tracer, w, cache, run_dir, seed)
        m["spark.persisted_rdds"] = max(r.persisted)
        m["peak_rss_mb"] = rss.peak_mb
    finally:
        spark.stop()
    for p in problems:
        log(f"FAILED sweep: {p}")

    ids = {s.id for s in loop_spans}
    groups = {f"span-{s.id}" for s in tracer.spans if s.id in ids or s.parent in ids}
    counters = event_log_counters(event_log_file(ev_dir), groups)
    n = len(loop_spans)
    for k, v in counters.items():
        m[f"spark.{k}"] = v if k == "task_skew" else v / n
    tracer.dump(os.path.join(WORK, f"spans-{w.name}-s{seed}.json"))

    metrics = {**layers.span_metrics(tracer), **m}
    traced_wall, plain_wall = statistics.median(walls), statistics.median(plain)
    log(f"traced iterations n={len(walls)}, plain iterations n={len(plain)}")
    metrics.update(
        {
            "session.get_spark_s": get_spark_s,
            "session.warmup_s": warmup_s,
            "trace.wall_s": traced_wall,
            "trace.untraced_wall_s": plain_wall,
            "trace.overhead_s": traced_wall - plain_wall,
        }
    )
    return metrics, r.attempted + sweep_attempted, r.failed + len(problems)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    cache = os.path.join(WORK, "cache")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    keep_inside(run_dir)
    try:
        from perfbench.trace import host_snapshot, steal_pct
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        cpus = len(os.sched_getaffinity(0))
        host0 = host_snapshot()
        t0 = time.perf_counter()
        w = WORKLOADS[args.workload](cache, run_dir, args.seed)
        gen_s = time.perf_counter() - t0
        log(f"workload={w.name} seed={args.seed} docs={w.n_docs} cpus={cpus} gen_s={gen_s:.3f}")
        if args.trace:
            metrics, attempted, failed = traced(w, cpus, args.seconds, run_dir, cache, args.seed)
        else:
            metrics, r = untraced(w, cpus, args.seconds)
            attempted, failed = r.attempted, r.failed
            log(f"persisted_rdds after each call={r.persisted}")
        host1 = host_snapshot()
        host = {"host.load1": host0[0], "host.steal_pct": steal_pct(host0, host1)}
        log(f"host load1={host0[0]:.2f}->{host1[0]:.2f} steal_pct={host['host.steal_pct']:.2f}")
        metrics.update(host, **{"bench.gen_s": gen_s, "fail_ratio": failed / attempted})
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    missing = sorted(set(wanted) - set(metrics))
    if missing:
        raise SystemExit(f"metrics missing from this run: {missing}")
    for name in wanted:
        log(f"{name} = {metrics[name]} {wanted[name]}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    n: {"value": float(metrics[n]), "unit": u} for n, u in wanted.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
