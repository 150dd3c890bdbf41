#!/usr/bin/env python3
"""Spatial-core benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload point_join|overlap|all \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  The run starts Spark at local[nproc] with
every scratch directory under ``.perfbench/`` in the repository, builds
the workload's inputs from the seed, times jobs for ``--seconds``
seconds, checks every job's output and prints each metric with its unit.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` makes a traced run and reports the
per-layer metrics (see README.md).  ``--workload all`` runs the
workloads one after another, each in its own process.
"""

from __future__ import annotations

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
import traceback
from pathlib import Path

T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "throughput": "items/s",
    "job_s.p50": "s",
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "scan.bytes": "bytes",
    "scan.rows": "count",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "arrow.rows_from_python": "count",
    "decompose.kernel_s": "s",
    "decompose.spark_s": "s",
    "decompose.spark_gap": "ratio",
    "decompose.polygons": "count",
    "decompose.vertices": "count",
    "decompose.rings_out": "count",
    "cells.cover_s": "s",
    "cells.spark_s": "s",
    "cells.spark_gap": "ratio",
    "cells.rings": "count",
    "cells.intervals": "count",
    "cells.full_intervals": "count",
    "tiling.build_index_s": "s",
    "tiling.driver_s": "s",
    "tiling.broadcast_s": "s",
    "tiling.index_intervals": "count",
    "tiling.index_csr_entries": "count",
    "tiling.index_bytes": "bytes",
    "tiling.lookup_s": "s",
    "tiling.refine_s": "s",
    "tiling.spark_gap": "ratio",
    "tiling.candidates": "count",
    "tiling.full_accepted": "count",
    "tiling.refined": "count",
    "tiling.refine_hits": "count",
    "tiling.refine_hit_rate": "ratio",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.records": "count",
    "shuffle.spill_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "overlap.cover_s": "s",
    "overlap.refine_rows": "count",
    "overlap.pairs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.deser_s": "s",
    "driver.result_bytes": "bytes",
    "trace.overhead": "ratio",
    "trace.reconcile_err": "ratio",
}
WORKLOAD_NAMES = ("point_join", "overlap")
SETUP_PASSES = 3  # setup_s reports the median pass
# Untimed jobs before timing: the first runs on a cold JVM, 2-4x slower
# than the rest (JIT, Python worker start-up).
WARMUP_JOBS = 1
MIN_JOBS = 3
# In a traced job, at most this share of the wall time may fall outside
# the layers (tracing.UNEXPLAINED): scheduler gaps and unknown Python nodes.
RECONCILE_TOLERANCE = 0.10
RUN_LIMIT_S = 170


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Scratch space inside the checkout, and the import path that the
    Python workers Spark forks inherit."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + ([path] if path else [])
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")


def start_spark(work: Path, cores: int, event_log: bool):
    from simplepolygon_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",  # no zstandard here
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", parallelism=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM and wait for it; it exits when its stdin
    closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class RssPeak:
    """Highest resident set size of this process seen while active,
    sampled every 10 ms from /proc/self/statm."""

    def __init__(self):
        self.peak = 0
        self._lock = threading.Lock()  # the sampler and active() both update
        self._on = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        with open("/proc/self/statm") as f:
            rss = int(f.read().split()[1]) * self._page
        with self._lock:
            self.peak = max(self.peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(0.01):
            if self._on.is_set():
                self._sample()

    def active(self, on: bool) -> None:
        self._sample()
        (self._on.set if on else self._on.clear)()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def timed_jobs(wl, seconds: float, tracer, rss) -> dict:
    """Run jobs for ``seconds`` (at least MIN_JOBS), each checked after
    its clock stops.  A job starts only if, at the last job's pace, it
    ends less than half a job past ``seconds``."""
    walls, wrong, failed, digest, last = [], 0, 0, None, None
    end = time.perf_counter() + seconds
    while len(walls) + failed < MIN_JOBS or (
        time.perf_counter() + (walls[-1] / 2 if walls else 0.0) < end
    ):
        rss.active(True)
        try:
            with tracer.span("job"):
                t0 = time.perf_counter()
                out = wl.job()
                wall = time.perf_counter() - t0
        except Exception:  # a job that raises is counted, not fatal
            traceback.print_exc()
            failed += 1
            continue
        finally:
            rss.active(False)
        walls.append(wall)
        digest = wl.digest(out)
        try:
            ok = wl.check(out)
        except Exception:
            traceback.print_exc()
            ok = False
        wrong += not ok
        last = out
    return {
        "walls": walls,
        "attempted": len(walls) + failed,
        "wrong": wrong,
        "failed": failed,
        "digest": digest,
        "last": last,
    }


def warm_up(wl) -> tuple:
    """Run and check WARMUP_JOBS untimed jobs; checking the first also
    builds the reference outside the timed region.  Returns the jobs'
    summed wall time and how many passed the check."""
    wall, ok = 0.0, 0
    for _ in range(WARMUP_JOBS):
        t = time.perf_counter()
        out = wl.job()
        wall += time.perf_counter() - t
        ok += wl.check(out)
    return wall, ok


def fingerprint(wl, spark, cores: int) -> dict:
    import inputs

    return {
        "workload": wl.name,
        "seed": wl.seed,
        "fixtures": sorted(inputs.FIXTURES),
        **wl.fingerprint(),
        "nproc": cores,
        "spark": spark.version,
    }


def measure(W, seed: int, seconds: float, work: Path, cores: int, traced: bool, passes: int) -> dict:
    """One SparkContext: start it, generate the inputs, run ``passes``
    set-up passes, the warm-up job(s), then timed jobs for ``seconds``.
    With ``traced`` the event log is on and every call runs in a span."""
    from tracing import Tracer

    clock = [time.perf_counter()]

    def lap() -> float:
        clock.append(time.perf_counter())
        return clock[-1] - clock[-2]

    spark = start_spark(work, cores, event_log=traced)
    tracer = Tracer(spark.sparkContext if traced else None)
    wl = W(spark, seed, str(work / "data"), cores, tracer)
    rss = RssPeak()
    r = {"session_s": lap(), "wl": wl, "tracer": tracer, "setup_passes_s": []}
    try:
        wl.generate()
        r["generate_s"] = lap()
        for _ in range(passes):
            with tracer.span("setup"):
                wl.setup()
            r["setup_passes_s"].append(lap())
        r["warm_up_s"], r["warm_ok"] = warm_up(wl)
        r["fingerprint"] = fingerprint(wl, spark, cores)
        lap()
        r.update(timed_jobs(wl, seconds, tracer, rss))
        r["jobs_s"] = lap()
    finally:
        rss.close()
        wl.close()
        spark.stop()
    r["stop_s"] = lap()
    r["rss_peak"] = rss.peak
    r["attempted"] += WARMUP_JOBS
    r["wrong"] += WARMUP_JOBS - r["warm_ok"]
    return r


def run_untraced(W, seed: int, seconds: float, work: Path, cores: int) -> tuple:
    r = measure(W, seed, seconds, work, cores, traced=False, passes=SETUP_PASSES)
    walls = r["walls"]
    metrics = {
        "throughput": r["wl"].items() * len(walls) / sum(walls) if walls else 0.0,
        "job_s.p50": statistics.median(walls) if walls else 0.0,
        "setup_s": r["session_s"]
        + r["generate_s"]
        + statistics.median(r["setup_passes_s"])
        + r["warm_up_s"],
        "driver_peak_rss_mb": r["rss_peak"] / 2**20,
    }
    notes = {
        "jobs": len(walls),
        "job_walls_s": [round(w, 3) for w in walls],
        **{k: round(r[k], 3) for k in ("session_s", "generate_s", "warm_up_s", "jobs_s", "stop_s")},
        "setup_passes_s": [round(p, 3) for p in r["setup_passes_s"]],
        "item": r["wl"].item,
    }
    return r, metrics, notes, []


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def run_traced(W, seed: int, seconds: float, work: Path, cores: int) -> tuple:
    """Half of ``seconds`` in each of two SparkContexts of one JVM: one
    with the event log on and spans around every call, one without, the
    base of ``trace.overhead``.  The later context runs on a warmer JVM,
    so the traced half comes first on even seeds and second on odd ones.
    Then the layers' kernels run in this process and the event log is
    read."""
    from tracing import UNEXPLAINED, EventLog

    order = (True, False) if seed % 2 == 0 else (False, True)
    # two set-up passes: the set-up layers are read from the second, as
    # the first is the context's cold start
    half = {t: measure(W, seed, seconds / 2, work, cores, traced=t, passes=2) for t in order}
    res, plain = half[True], half[False]
    wl, tracer = res["wl"], res["tracer"]
    kern = wl.kernels(res["last"])
    (log,) = (work / "eventlog").iterdir()
    ev = EventLog(str(log))

    def split(spans) -> list:
        return [ev.split(s, tracer.subtree([s["id"]])) for s in spans]

    jobs = [s for s in tracer.spans if s["name"] == "job" and "wall_s" in s]
    setup = [s for s in tracer.spans if s["name"] == "setup"][-1:]
    job_parts, setup_parts = split(jobs), split(setup)

    def part(layer: str) -> float:
        """Mean seconds of ``layer`` per set-up pass or timed job, where
        the workload runs it."""
        parts = setup_parts if layer in wl.SETUP_LAYERS else job_parts
        return mean(p.get(layer, 0.0) for p in parts)

    def children(name: str) -> list:
        parents = {s["id"] for s in (setup if "tiling" in wl.SETUP_LAYERS else jobs)}
        return [s for s in tracer.spans if s["name"] == name and s["parent"] in parents]

    per_job = [ev.metrics(tracer.subtree([j["id"]])) for j in jobs]
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update({k: mean(m[k] for m in per_job) for k in per_job[0]})
    metrics.update(kern)
    builds = children("tiling.build")
    metrics.update(
        {
            "decompose.spark_s": part("decompose"),
            "cells.spark_s": part("cells"),
            "tiling.build_index_s": mean(s["wall_s"] for s in builds),
            "tiling.driver_s": mean(p.get("driver", 0.0) for p in split(builds)),
            "tiling.broadcast_s": mean(s["wall_s"] for s in children("tiling.broadcast")),
        }
    )
    gaps = {
        "decompose.spark_gap": (metrics["decompose.spark_s"], metrics["decompose.kernel_s"]),
        "cells.spark_gap": (metrics["cells.spark_s"], metrics["cells.cover_s"]),
        "tiling.spark_gap": (
            part("tiling.probe"),
            metrics["tiling.lookup_s"] + metrics["tiling.refine_s"],
        ),
    }
    for k, (spark_s, kernel_s) in gaps.items():
        if spark_s and kernel_s:
            metrics[k] = spark_s * cores / kernel_s
    if wl.name == "overlap":
        metrics["overlap.cover_s"] = part("cells")

    errs = [
        sum(p.get(k, 0.0) for k in UNEXPLAINED) / (j["end"] - j["start"])
        for p, j in zip(job_parts, jobs)
    ]
    metrics["trace.reconcile_err"] = statistics.median(errs)
    metrics["trace.overhead"] = statistics.median(res["walls"]) / statistics.median(plain["walls"]) - 1.0

    problems = []
    if wl.name == "point_join" and metrics["shuffle.write_bytes"] != 0:
        problems.append("point_join wrote shuffle bytes")
    if metrics["trace.reconcile_err"] > RECONCILE_TOLERANCE:
        problems.append(
            f"layer parts leave {metrics['trace.reconcile_err']:.0%} of the job wall "
            f"unexplained (tolerance {RECONCILE_TOLERANCE:.0%})"
        )

    trace_dir = work.parent / "traces"
    trace_dir.mkdir(exist_ok=True)
    with open(trace_dir / f"{wl.name}-seed{seed}.json", "w") as f:
        json.dump(
            {"fingerprint": res["fingerprint"], "spans": tracer.spans, "job_parts_s": job_parts, "metrics": metrics},
            f,
            indent=1,
        )

    for k in ("attempted", "wrong", "failed"):
        res[k] += plain[k]
    names = sorted({k for p in job_parts for k in p})
    notes = {
        "jobs": f"{len(jobs)} traced, {len(plain['walls'])} untraced",
        "traced_first": order[0],
        "job_walls_s": [round(w, 3) for w in res["walls"]],
        "job_parts_s": {k: round(mean(p.get(k, 0.0) for p in job_parts), 3) for k in names},
        "reconcile_errs": [round(e, 3) for e in errs],
        "item": wl.item,
    }
    return res, metrics, notes, problems


def run_one(args) -> int:
    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import WORKLOADS  # fails here without the library

    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{args.trace}"
    prepare_env(work)

    W = WORKLOADS[args.workload]
    cores = nproc()
    run = run_traced if args.trace else run_untraced
    try:
        res, metrics, notes, problems = run(W, args.seed, args.seconds, work, cores)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    attempted = res["attempted"]
    units = PER_LAYER if args.trace else END_TO_END
    print(f"fingerprint {json.dumps(res['fingerprint'], sort_keys=True)}")
    print(f"digest {args.workload} {res['digest']}")
    for k, v in notes.items():
        print(f"note {k} = {v}")
    for name, unit in units.items():
        shown = notes["item"] + "/s" if name == "throughput" else unit
        print(f"{name} = {metrics[name]:.6g} {shown}")
    print(f"failed_frac = {res['failed'] / attempted:.6g} ({res['failed']}/{attempted})")
    print(f"wrong_frac = {res['wrong'] / attempted:.6g} ({res['wrong']}/{attempted})")
    for p in problems:
        print(f"problem {p}")
    correct = res["wrong"] == 0 and not problems and attempted > res["failed"]
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Each workload in its own process, then one combined line."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{w}: exited with {proc.returncode}", file=sys.stderr)
            return 1
        print(f"== {w}")
        print("\n".join(lines[:-1]))
        r = json.loads(lines[-1])
        total["correct"] &= r["correct"]
        total["attempted"] += r["attempted"]
        total["failed"] += r["failed"]
        for k, v in r["metrics"].items():
            total["metrics"][f"{w}.{k}"] = v
    print(json.dumps(total), flush=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)

    def out_of_time(*_):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, out_of_time)
    signal.alarm(RUN_LIMIT_S)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
