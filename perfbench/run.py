#!/usr/bin/env python3
"""The repository's benchmark.

Usage, from the repository root::

    python3 perfbench/run.py --workload luad_pipeline --seed 1 --seconds 10 --trace 0

One process is one run: set the session up three times (the first one
from process start, through the JVM launch), then run the workload in a
closed loop for ``--seconds`` seconds, at least once, and check every
iteration's answer outside the timed window. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics, as medians over the run:

- ``setup_s``: median of the three set-ups. Each builds the session,
  loads the query registry and scans the workload's inputs once; the
  first also pays process start, imports and the JVM launch.
- ``wall_s``: inputs to the complete result on the driver, per iteration.
- ``cpu_s``: CPU time of the driver, the JVM and its Python workers per
  iteration. It moves less with host load than ``wall_s``.
- ``peak_rss_mb``: peak resident memory of the driver plus the JVM.

``--trace 1`` runs the same loop with spans around the calls into each
layer and reports the per-layer metrics (see ``tracing``). Its
``trace.wall_s`` against the untraced ``wall_s`` of the same workload
and seed is the tracing overhead; ``trace.bookkeeping_s`` is the time
spent inside the tracer's own code.

The JVM heap is fitted to the host (``heap_for_host``) through
``SPARK_DRIVER_MEMORY`` and printed before the result.
Everything the run writes goes under ``.perfbench_work/`` in the
repository root and is removed when the run ends.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "flink_luad_pipeline_spark")
#: a run stops starting iterations once one more could end past this age
RUN_LIMIT_S = 150.0
SETUPS = 3
END_TO_END_UNITS = {"wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}

#: spans reported per layer, chosen by where the workloads spend time
SPANS = (
    "pipeline.run_pipeline",
    "pipeline.build_matrix",
    "ml.als_complete",
    "ml.pearson_edges",
    "operators.graph.connected_components",
    "ml.assemble_features",
    "ml.svm_train",
    "ml.svm_predict",
    "catalog.load",
    "operators.dedup.build_minhash_index",
    "functions.text.tokenize",
    "functions.text.word_ngrams",
    "streaming.ops.read_documents_stream",
    "streaming.ops.neardup_probe_stream",
    "streaming.ops.run_available_now",
)


def heap_for_host() -> str:
    """A quarter of ``MemTotal``, at most 1 GiB. The inputs are small,
    and a heap every iteration fills makes peak RSS repeatable."""
    with open("/proc/meminfo") as f:
        total_mb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:")) // 1024
    return f"{min(1024, total_mb // 4 // 256 * 256)}m"


def _configure(work: str, trace: bool) -> str:
    heap = heap_for_host()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
            "SPARK_DRIVER_MEMORY": heap,
            "SPARK_GRAFT_CPUS": "4",
            # timed runs scan their inputs every iteration
            "SPARK_GRAFT_NO_CACHE": "1",
            # keep the JVM's temp and perf-data files inside the checkout
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    if trace:
        # the status store must keep every job and stage of an iteration
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 pyspark-shell"
        )
    return heap


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    if proc.poll() is None:
        spark.stop()
        gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _median_metrics(per_iteration: list[dict]) -> dict:
    return {k: statistics.median(m[k] for m in per_iteration) for k in per_iteration[0]}


def run(args, work: str) -> dict:
    import intervals
    import tracing
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    t = time.perf_counter()
    ctx = wl.prepare(os.path.join(work, "inputs"), args.seed)
    gen_s = time.perf_counter() - t

    from flink_luad_pipeline_spark import plans
    from flink_luad_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    plans.all_queries()
    wl.warm(spark, ctx)
    setups = [tracing.process_age_s() - gen_s]
    for _ in range(SETUPS - 1):
        t = time.perf_counter()
        spark.stop()
        spark = get_spark("perfbench")
        plans.all_queries()
        wl.warm(spark, ctx)
        setups.append(time.perf_counter() - t)

    jvm = spark.sparkContext._gateway.proc
    tracer = progress = log = None
    if args.trace:
        tracer = tracing.Tracer()
        tracer.install()
        progress = tracing.StreamProgress()
        spark.streams.addListener(progress)
        log = tracing.SparkLog(spark)

    walls: list[float] = []
    cpus: list[float] = []
    layers: list[dict] = []
    attempted = failed = 0
    window_end = time.perf_counter() + args.seconds
    while True:
        it_dir = os.path.join(work, f"it{attempted}")
        if tracer:
            tracer.reset()
            progress.batches.clear()
            progress.callback_s = 0.0
        c0 = tracing.cpu_seconds()
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            it = wl.run(spark, ctx, it_dir)
        except Exception:
            traceback.print_exc()
            it = None
        p1 = time.perf_counter()
        t1 = time.time()
        cpus.append(tracing.cpu_seconds() - c0)
        walls.append(p1 - p0)
        attempted += 1
        try:
            if it is None:
                raise RuntimeError("iteration raised")
            wl.check(ctx, it)
        except Exception:
            traceback.print_exc()
            failed += 1
            if jvm.poll() is not None:  # the JVM died, e.g. killed for memory
                break
        if tracer and it is not None:
            jobs = log.jobs(t0, t1)
            m = tracing.engine_metrics(t0, t1, jobs, log.stages(jobs))
            m.update(progress.metrics())
            seen = tracer.layer_metrics(jobs, sorted({sp.name for sp in tracer.spans}))
            m.update(tracer.layer_metrics(jobs, list(SPANS)))
            top = sorted(
                ((v, k[: -len(".self_s")]) for k, v in seen.items() if k.endswith(".self_s")),
                reverse=True,
            )[:25]
            print(
                "span self time (s): " + ", ".join(f"{n} {v:.3f}" for v, n in top),
                file=sys.stderr,
            )
            for df in it.frames:
                for k, v in tracing.catalyst_metrics(df).items():
                    m[k] = m.get(k, 0.0) + v
            m["trace.wall_s"] = p1 - p0
            m["trace.bookkeeping_s"] = tracer.bookkeeping_s + progress.callback_s
            layers.append(m)
        spark.catalog.clearCache()
        shutil.rmtree(it_dir, ignore_errors=True)
        shutil.rmtree(os.path.join(os.environ["TMPDIR"], "flps_io"), ignore_errors=True)
        longest = max(walls)
        if (
            time.perf_counter() + longest > window_end
            or tracing.process_age_s() + longest > RUN_LIMIT_S
        ):
            break

    rss = tracing.peak_rss_mb(jvm.pid)
    if tracer:
        tracer.uninstall()
    _stop(spark)

    wall = intervals.summarize(walls)
    print(
        f"{args.workload} seed={args.seed}: setups {[round(s, 3) for s in setups]} s, "
        f"walls {[round(w, 3) for w in walls]} s, wall {wall}",
        file=sys.stderr,
    )
    if args.trace:
        metrics = dict(sorted(_median_metrics(layers).items())) if layers else {}
        units = {k: layer_unit(k) for k in metrics}
    else:
        metrics = {
            "wall_s": wall["p50"],
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": rss,
            "setup_s": statistics.median(setups),
        }
        units = END_TO_END_UNITS
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("input_rows"):
        return "rows"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PACKAGE_DIR):
        print(f"no program to measure: {PACKAGE_DIR} is missing", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        heap = _configure(work, bool(args.trace))
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"driver heap {heap} (SPARK_DRIVER_MEMORY), local[4]")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
