"""Benchmark of the exactextractr-spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload zonal_headline --seed 1 --seconds 12 --trace 0

Workloads (see BENCHMARK.json for why each exists): ``zonal_headline``,
``zonal_categorical``, ``near_dup_dedup``. Inputs are generated from
``--seed`` alone, before any timing, and cached under ``.perfbench/`` in the
repository root; everything the run writes stays there.

Load model: a closed loop with one client. The benchmark submits one pass to
``local[nproc]``, collects its result, checks it, and only then submits the
next pass.

``--trace 0`` prints the end-to-end metrics:

- ``setup_s``: session start, input registration and the first (cold) pass,
  repeated ``SETUP_REPS`` times in the run (the first repeat also starts the
  JVM; later ones restart the Spark context in it); the median is reported.
  Before each restart, passes run untimed for ``WARMUP_S`` seconds: a fresh
  JVM takes several passes to settle, while a context restarted in a warm
  JVM runs at its steady speed from its second pass on.
- ``items_per_s``: tiles (zonal workloads) or table rows (dedup workload) per
  second of the median pass, over every pass that starts within
  ``--seconds`` after the last set-up. A dedup pass runs all three
  operators.
- ``peak_rss_mb``: peak summed RSS of this process, the Spark driver JVM and
  its Python workers during a timed pass, sampled from /proc every 0.2 s;
  the median over the timed passes is reported.

``--trace 1`` prints the per-layer metrics instead. It runs untraced and
traced passes alternately for ``--seconds``; a traced pass times prefixes of
the pipeline, each into a sink under its own Spark job group, and reads
jobs, stages, tasks and SQL metrics from the Spark status store. A
layer's self time is the difference of two prefixes. ``decode_tile`` and
``coverage_fraction`` are also timed single-process on a seeded sample of
the workload's own tiles and (tile, feature) pairs. Metrics of a layer the
workload does not run read 0. Every span is written to
``.perfbench/traces/<workload>-s<seed>-<pid>.json`` together with the host,
the session settings and the library versions.

Which end-to-end metric each layer's metrics should move, and on which
workload. ``zonal_categorical`` is not listed in BENCHMARK.json (a third
workload's runs do not fit the benchmark's total time budget); run it by
hand to measure the cover join and the frequency-stat path.

==========================================  ========================  ======================  ===================================
layer (module)                              per-layer metrics         should move             on
==========================================  ========================  ======================  ===================================
``sources.tiles``                           ``tiles.*``               items_per_s             zonal_headline
``core.png``                                ``png.*``                 items_per_s             zonal_headline
``operators.zonal.build_candidates``        ``candidates.*``          items_per_s, setup_s    zonal_headline; cover join: zonal_categorical
``core.coverage``                           ``coverage.*``            items_per_s             zonal_headline
``operators.zonal.coverage_facts``          ``kernel.*``              items_per_s             zonal_headline
``plans.stats`` + final aggregate           ``agg.*``                 items_per_s             zonal_headline; freq path: zonal_categorical
Spark scheduler / driver                    ``spark.*``               setup_s, items_per_s    all; largest on near_dup_dedup
``operators.dedup``                         ``phash.*`` ``simhash.*`` items_per_s, peak_rss_mb  near_dup_dedup
                                            ``minhash.*``
==========================================  ========================  ======================  ===================================

Every pass is checked (``checks.py``). The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; a failed check is
reported on stderr, makes ``correct`` false and the exit code 1.

Session settings are pinned from outside through the environment
``exactextractr_spark.session.get_spark`` reads: ``SPARK_GRAFT_CPUS`` = the
CPUs this process may use, ``SPARK_DRIVER_MEM`` = ``DRIVER_MEM`` (also the
initial heap), ``SPARK_LOCAL_DIRS`` under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 2
WARMUP_S = 12.0
DRIVER_MEM = "3g"
WORKLOADS = ("zonal_headline", "zonal_categorical", "near_dup_dedup")

END_TO_END = {"setup_s": "s", "items_per_s": "items/s", "peak_rss_mb": "MiB"}

_DEDUP_LAYER = {
    "rows_per_s": "rows/s", "signature_s": "s", "join_s": "s", "keys_per_row": "count",
    "candidate_rows": "count", "useful_ratio": "ratio", "pairs": "count",
    "survivors": "count", "shuffle_write_mb": "MiB",
}
PER_LAYER = {
    "tiles.scan_s": "s", "tiles.bytes_read_mb": "MiB",
    "png.decode_ms_per_tile": "ms", "png.decoded_mb_per_s": "MiB/s",
    "candidates.wall_s": "s", "candidates.jobs": "count", "candidates.tiles_kept_ratio": "ratio",
    "candidates.pairs": "count", "candidates.useful_ratio": "ratio",
    "candidates.shuffle_write_mb": "MiB",
    "coverage.ms_per_pair": "ms", "coverage.cells_per_pair": "count",
    "coverage.nonzero_cell_ratio": "ratio", "coverage.interior_pair_share": "ratio",
    "coverage.interior_ms_share": "ratio",
    "kernel.wall_s": "s", "kernel.task_s": "s", "kernel.py_in_mb": "MiB",
    "kernel.py_out_mb": "MiB", "kernel.rows_out": "count", "kernel.reduce_ms_per_tile": "ms",
    "kernel.task_skew": "ratio",
    "agg.wall_s": "s", "agg.shuffle_write_mb": "MiB", "agg.shuffle_records": "count",
    "agg.freq_rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_idle_s": "s", "spark.core_busy_ratio": "ratio",
    **{f"{op}.{k}": u for op in ("phash", "simhash", "minhash") for k, u in _DEDUP_LAYER.items()},
    "trace.overhead_s": "s", "trace.untraced_s": "s",
}
MB = float(1 << 20)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment() -> int:
    """Session settings for this host, set before any Spark import."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        # the engine's own GC choice, and a heap fixed at its maximum from the
        # start (a growing heap makes the first dozen passes of a run slower)
        SPARK_DRIVER_JAVA_OPTS=f"-XX:+UseParallelGC -Xms{DRIVER_MEM}",
        # every JVM (also spark-submit's launcher) and Python keep their
        # temporary files in the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return cpus


def start_session(cpus: int):
    from exactextractr_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop Spark, end the JVM, and wait for it and the Python workers it
    started to exit."""
    from pyspark import SparkContext

    from spans import tree_pids

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = tree_pids(proc.pid) if proc is not None else set()
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in pids:
        os.kill(p, signal.SIGKILL)


class Passes:
    """Runs passes, checks each with ``check(result, first_result)``, and
    counts attempts and failures."""

    def __init__(self, check):
        self.check, self.attempted, self.failed, self.first = check, 0, 0, None

    def run(self, fn):
        """Run ``fn`` (a pass), returning (seconds, result or None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception:
            self.failed += 1
            log("pass raised:\n" + traceback.format_exc())
            return time.perf_counter() - t0, None
        dt = time.perf_counter() - t0
        errs = self.check(res, self.first)
        if errs:
            self.failed += 1
            log("pass failed its check: " + "; ".join(errs))
        elif self.first is None:
            self.first = res
        return dt, res


def measure(workload: str, data: str, man: dict, seconds: float, cpus: int) -> tuple[dict, Passes]:
    import workloads
    from spans import RssSampler

    setups, spark, passes = [], None, None
    for rep in range(SETUP_REPS):
        if spark is not None:
            warm_until = time.perf_counter() + WARMUP_S
            while time.perf_counter() < warm_until:
                passes.run(wl.run_pass)
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cpus)
        wl = workloads.make(workload, spark, data, man)
        passes = passes or Passes(wl.check)
        passes.run(wl.run_pass)
        setups.append(time.perf_counter() - t0)
    log(f"setup_s samples {[round(s, 3) for s in setups]}")
    t_setup = time.perf_counter()
    rss = RssSampler()
    times = []
    try:
        deadline = time.perf_counter() + seconds
        start = passes.attempted
        while passes.attempted == start or time.perf_counter() < deadline:
            with rss.active():
                dt, res = passes.run(wl.run_pass)
            if res is not None:
                times.append(dt)
        log(f"pass_s samples {[round(t, 3) for t in times]}, "
            f"{time.perf_counter() - t_setup:.1f} s after set-up")
    finally:
        rss.close()
        stop_all(spark)
    med = statistics.median(times) if times else float("inf")
    return {
        "setup_s": statistics.median(setups),
        "items_per_s": wl.items / med,
        "peak_rss_mb": statistics.median(rss.peaks) / MB,
    }, passes


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def zonal_layers(tr, store, wl, cycles, cpus) -> dict:
    """Per-layer metrics of the zonal workloads, median over traced passes."""
    per = []
    for root, extra, _ in cycles:
        kids = {tr.spans[i].name: i for i in tr.children(root)}
        sp = {n: tr.spans[i] for n, i in kids.items()}
        for parent in ("candidates", "kernel"):
            sp.update({tr.spans[i].name: tr.spans[i] for i in tr.children(kids[parent])})
        g = {n: store.group(s.group) for n, s in sp.items()}
        scan, cand_s, kern, full = (sp[n].dur for n in ("scan", "candidates", "kernel", "full"))
        cand_shuffle = g["candidates.build"].stage_sum("shuffleWriteBytes") + g["candidates.count"].stage_sum("shuffleWriteBytes")
        kernel_task = (g["kernel"].stage_sum("executorRunTime") - g["scan"].stage_sum("executorRunTime")) / 1e3
        rows_out = g["kernel"].node_metric("MapInPandas", "number of output rows")
        per.append({
            "tiles.scan_s": scan,
            "tiles.bytes_read_mb": g["scan"].node_metric("Scan parquet", "size of files read") / MB,
            "candidates.wall_s": cand_s,
            "candidates.jobs": float(len(g["candidates.build"].jobs)),
            "candidates.tiles_kept_ratio": extra["tiles_kept"] / wl.items,
            "candidates.pairs": float(len(extra["pairs"])),
            "candidates.shuffle_write_mb": cand_shuffle / MB,
            "kernel.wall_s": kern - sp["kernel.build"].dur - scan,
            "kernel.task_s": kernel_task,
            "kernel.py_in_mb": g["kernel"].node_metric("MapInPandas", "data sent to Python workers") / MB,
            "kernel.py_out_mb": g["kernel"].node_metric("MapInPandas", "data returned from Python workers") / MB,
            "kernel.rows_out": rows_out,
            "kernel.task_skew": g["kernel"].task_skew(),
            "agg.wall_s": full - kern,
            "agg.shuffle_write_mb": (g["full"].stage_sum("shuffleWriteBytes") - g["kernel"].stage_sum("shuffleWriteBytes")) / MB,
            "agg.shuffle_records": g["full"].stage_sum("shuffleWriteRecords") - g["kernel"].stage_sum("shuffleWriteRecords"),
            "agg.freq_rows": rows_out if wl.emit == "freq" else 0.0,
            "spark.jobs": float(len(g["full"].jobs)),
            "spark.stages": float(len(g["full"].stages)),
            "spark.tasks": float(g["full"].tasks),
            "spark.driver_idle_s": full - g["full"].busy_intervals(),
            "spark.core_busy_ratio": g["full"].stage_sum("executorRunTime") / 1e3 / (full * cpus),
        })
    return {k: _med([p[k] for p in per]) for k in per[0]}


def dedup_layers(tr, store, wl, cycles, cpus) -> dict:
    """Per-layer metrics of the dedup workload, median over traced passes."""
    per = []
    for root, extra, res in cycles:
        m = {}
        jobs = stages = tasks = idle = busy = wall = 0.0
        for i in tr.children(root):
            op = tr.spans[i].name
            sub = {tr.spans[c].name: tr.spans[c] for c in tr.children(i)}
            sig, ded = sub[f"{op}.signature"], sub[f"{op}.dedup"]
            g = store.group(ded.group)
            keys = g.node_metric("Generate", "number of output rows", max)
            cand = g.key_join_rows()
            pairs = float(extra["pairs"][op])
            m.update({
                f"{op}.rows_per_s": wl.items / ded.dur,
                f"{op}.signature_s": sig.dur,
                f"{op}.join_s": ded.dur - sig.dur,
                f"{op}.keys_per_row": keys / wl.items,
                f"{op}.candidate_rows": cand,
                f"{op}.useful_ratio": pairs / cand if cand else 0.0,
                f"{op}.pairs": pairs,
                f"{op}.survivors": float(len(res[op])),
                f"{op}.shuffle_write_mb": g.stage_sum("shuffleWriteBytes") / MB,
            })
            jobs += len(g.jobs)
            stages += len(g.stages)
            tasks += g.tasks
            idle += ded.dur - g.busy_intervals()
            busy += g.stage_sum("executorRunTime") / 1e3
            wall += ded.dur
        m.update({"spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks,
                  "spark.driver_idle_s": idle, "spark.core_busy_ratio": busy / (wall * cpus)})
        per.append(m)
    return {k: _med([p[k] for p in per]) for k in per[0]}


def environment(cpus: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": cpus, "ram_gib": round(mem_kb / (1 << 20), 1),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "session": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS",
                                               "SPARK_DRIVER_JAVA_OPTS", "JAVA_TOOL_OPTIONS")},
        "master": f"local[{cpus}]",
    }


def traced(workload: str, seed: int, data: str, man: dict, seconds: float, cpus: int) -> tuple[dict, Passes]:
    import workloads
    from spans import StatusStore, Tracer

    spark = start_session(cpus)
    try:
        wl = workloads.make(workload, spark, data, man)
        passes = Passes(wl.check)
        passes.run(wl.run_pass)  # cold pass: worker start-up and first reads
        tr = Tracer(spark.sparkContext)
        untraced, cycles = [], []

        def traced_pass():
            with tr.span("pass"):
                root = len(tr.spans) - 1
                res, extra = wl.trace_pass(tr)
            cycles.append((root, extra, res))
            return res

        deadline = time.perf_counter() + seconds
        while tr.pass_id == 0 or time.perf_counter() < deadline:
            dt, res = passes.run(wl.run_pass)
            if res is not None:
                untraced.append(dt)
            tr.pass_id += 1
            passes.run(traced_pass)
        metrics = {k: 0.0 for k in PER_LAYER}
        if not cycles:
            return metrics, passes
        store = StatusStore(spark.sparkContext)
        if isinstance(wl, workloads.Zonal):
            metrics.update(zonal_layers(tr, store, wl, cycles, cpus))
            metrics.update(wl.layer_sample(seed, cycles[-1][1]["pairs"]))
            kept = metrics["candidates.tiles_kept_ratio"] * wl.items
            per_tile_ms = 1e3 * metrics["kernel.task_s"] / kept
            pairs_per_tile = metrics["candidates.pairs"] / kept
            metrics["kernel.reduce_ms_per_tile"] = (per_tile_ms - metrics["png.decode_ms_per_tile"]
                                                    - metrics["coverage.ms_per_pair"] * pairs_per_tile)
        else:
            metrics.update(dedup_layers(tr, store, wl, cycles, cpus))
        roots = [r for r, _, _ in cycles]
        # a traced pass runs the prefixes as well as the full pipeline
        metrics["trace.overhead_s"] = _med([tr.spans[r].dur for r in roots]) - _med(untraced)
        metrics["trace.untraced_s"] = _med([tr.self_time(r) for r in roots])
        write_trace(workload, seed, tr, roots, metrics, untraced, cpus)
        return metrics, passes
    finally:
        stop_all(spark)


def write_trace(workload, seed, tr, roots, metrics, untraced, cpus) -> None:
    """One JSON per traced run: every span, and per traced pass the self
    time of each span under it plus the pass's untraced remainder, which
    together sum to the pass wall time."""
    accounting = []
    for r in roots:
        tree, frontier = [], list(tr.children(r))
        while frontier:
            i = frontier.pop(0)
            tree.append(i)
            frontier.extend(tr.children(i))
        self_s = {tr.spans[i].name: tr.self_time(i) for i in tree}
        accounting.append({
            "pass": tr.spans[r].pass_id, "wall_s": tr.spans[r].dur,
            "self_s": self_s, "untraced_s": tr.self_time(r),
            "sum_s": sum(self_s.values()) + tr.self_time(r),
        })
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{workload}-s{seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "environment": environment(cpus),
                   "untraced_pass_s": untraced, "accounting": accounting,
                   "metrics": metrics, "spans": tr.to_json()}, f, indent=1)
    log(f"trace written to {os.path.relpath(path, ROOT)}")


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    try:
        import exactextractr_spark.operators.zonal  # noqa: F401  the engine must be present
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    cpus = pin_environment()
    import gen

    data, man = gen.inputs(args.workload, args.seed, args.scale)
    log(f"inputs {os.path.relpath(data, ROOT)} ready after {time.perf_counter() - t_start:.1f} s: {man['info']}")
    if args.trace:
        values, passes = traced(args.workload, args.seed, data, man, args.seconds, cpus)
        units = PER_LAYER
    else:
        values, passes = measure(args.workload, data, man, args.seconds, cpus)
        units = END_TO_END
    result = {
        "correct": passes.failed == 0,
        "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    log(f"run took {time.perf_counter() - t_start:.1f} s")
    if passes.failed:
        log(f"{passes.failed} of {passes.attempted} passes failed")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
