"""Cold-fit benchmark for golem_spark: SLOPE path fits, CV selection and
the dedup/tf-idf pipeline, end to end and layer by layer.

    python3 coldbench/run.py --workload glm_cold --seed 1 --seconds 15 --trace 0

Run from the repository root; the workloads are ``glm_cold`` and
``corpus_dedup`` (workloads.py). One run = one fresh process:

1. set-up (``setup_s``): Spark session start, input generation from
   ``--seed`` (repeated three times; the median counts) and one untimed
   warm-up op on data from a different seed;
2. the timed section: closed-loop ops, one at a time, until ``--seconds``
   of op time have passed and at least the workload's ``min_ops`` ran;
   every op's output is checked against numpy after its timer stops;
3. the last stdout line is one JSON object with ``correct``,
   ``attempted``, ``failed`` and ``metrics``. The line before it carries
   the details (per-op samples, tail percentile, cpus, a numpy canary).

``--trace 1`` alternates untraced and traced ops and reports the
per-layer metrics of the traced ones (see layers.py), plus the tracing
overhead: median traced op seconds minus median untraced op seconds.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

import layers
from spans import JOB_LAYERS, NullTracer, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
MAX_LOOP_S = 120.0  # hard stop for the timed loop, whatever --seconds says
# end-to-end metrics (tracing off), in BENCHMARK.json order
E2E_UNITS = {"setup_s": "s", "op_s": "s", "driver_rss_mb": "MB"}


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_mem() -> str:
    """Driver heap well below physical RAM: a quarter of it, at most 4g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(fh.readline().split()[1])
        return f"{max(512, min(4096, kb // 4096))}m"
    except (OSError, ValueError, IndexError):
        return "2g"


def _canary() -> float:
    """Seconds for a fixed numpy workload (best of three): a machine
    speed stamp to read the timings against."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((256, 256))
    best = math.inf
    for _ in range(3):
        t = time.perf_counter()
        b = a
        for _ in range(40):
            b = np.tanh(b @ a * 0.01)
        best = min(best, time.perf_counter() - t)
    return best


def _percentile_hi(values: list[float]) -> tuple[int, float]:
    """The highest percentile the sample supports (nearest rank
    100*(n-1)/n: the second largest of n >= 2 values) and its value."""
    v = sorted(values)
    if len(v) < 2:
        return 0, v[-1]
    pct = int(100 * (len(v) - 1) / len(v))
    return pct, v[len(v) - 2]


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _persisted(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def _jobs(spark, tracer, op: int) -> dict:
    st = spark.sparkContext.statusTracker()
    return {layer: len(st.getJobIdsForGroup(tracer.job_group(layer, op)))
            for layer in JOB_LAYERS}


def _environment(cpus: int, work: str, tmp: str) -> None:
    """Size the session to the machine and keep every file the run
    writes inside ``work``. Set before numpy is imported, so the BLAS
    thread cap applies to this process too."""
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        # the mapInPandas workers import golem_spark too
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        # one BLAS thread per process: the driver and the Python workers
        # already share the cores with the executor threads
        "OPENBLAS_NUM_THREADS": os.environ.get("OPENBLAS_NUM_THREADS", "1"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
    })


def run(args) -> int:
    cpus = _nproc()
    work = os.path.join(ROOT, ".coldbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    _environment(cpus, work, tmp)
    sys.path[:0] = [HERE, ROOT]
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        return _run(args, cpus, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, cpus: int, work: str, tmp: str) -> int:
    from workloads import WARMUP_SEED_OFFSET, WORKLOADS

    canary = _canary()
    t0 = time.perf_counter()
    from golem_spark.session import get_spark

    spark = get_spark("coldbench", extra_conf={
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
    })
    session_s = time.perf_counter() - t0
    try:
        cls = WORKLOADS[args.workload]
        wl = cls(spark, os.path.join(work, "data"), n_files=cpus)
        warm = cls(spark, os.path.join(work, "warm"), n_files=cpus)
        ops = _Ops()

        prep = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            ctx = wl.prepare(args.seed)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        ops.attempt(warm, warm.prepare(args.seed + WARMUP_SEED_OFFSET, cls.warmup_scale),
                    NullTracer())
        warm_s = time.perf_counter() - t

        tracer = Tracer(spark.sparkContext) if args.trace else None
        loop = _timed_loop(args, spark, wl, ctx, ops, tracer)

        op_s = statistics.median(loop["walls"])
        pct, hi = _percentile_hi(loop["walls"])
        rates = loop["rates"]
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "canary_s": canary, "session_s": session_s,
            "prep_s": prep, "warmup_s": warm_s, "run_s": loop["run_s"],
            "op_samples_s": loop["walls"], "op_n": len(loop["walls"]),
            f"op_p{pct}_s": hi,
            # held-out rows x path points per second through predict +
            # score (glm_cold); corpus docs per second through the dedup
            # stage (corpus_dedup)
            "rows_per_s": statistics.median(rates) if rates else None,
            "op_parts_s": loop["parts"],
            "failed_ops_frac": ops.failed / ops.attempted,
            "persisted_after_op": loop["persisted"],
            "notes": ctx.get("notes", {}), "errors": ops.errors[:5],
        }
        if args.trace:
            metrics = layers.metrics(tracer, loop["traced_ops"], loop["jobs"],
                                     loop["persisted"])
            metrics["session.start_s"] = session_s
            metrics["trace.overhead_s"] = statistics.median(loop["traced_walls"]) - op_s
            detail["traced_op_samples_s"] = loop["traced_walls"]
            units = layers.UNITS
        else:
            metrics = {"setup_s": session_s + statistics.median(prep) + warm_s,
                       "op_s": op_s,
                       "driver_rss_mb":
                           resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}
            units = E2E_UNITS
        args.result = {"detail": detail,
                       "final": result_line(metrics, units, ops.attempted, ops.failed)}
        return 0
    finally:
        _stop_spark(spark)


class _Ops:
    """Runs ops, checks their outputs after the timer stops, and counts
    attempts and failures (an op that raises or fails its check)."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def attempt(self, wl, ctx, tracer):
        self.attempted += 1
        t = time.perf_counter()
        try:
            rec = wl.op(ctx, tracer)
        except Exception:
            rec = None
            errs = [traceback.format_exc(limit=3)]
        wall = time.perf_counter() - t
        if rec is not None:
            try:
                errs = wl.check(ctx, rec["out"])
            except Exception:
                errs = [traceback.format_exc(limit=3)]
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            print(f"op {self.attempted} failed: {errs}", file=sys.stderr)
        return wall, rec


def _timed_loop(args, spark, wl, ctx, ops, tracer) -> dict:
    """Closed-loop ops until --seconds of op time have passed. With
    tracing, odd ops are traced and the run ends on an untraced op, so
    the traced ops are bracketed by untraced ones and warm-up drift
    cancels out of the overhead estimate."""
    out = {"walls": [], "traced_walls": [], "traced_ops": [], "rates": [],
           "parts": [], "persisted": [], "jobs": {}}
    null = NullTracer()
    t0 = time.perf_counter()
    op_time, i = 0.0, 0
    while True:
        traced = bool(args.trace) and i % 2 == 1
        if traced:
            tracer.op = i
            layers.install(tracer)
        try:
            wall, rec = ops.attempt(wl, ctx, tracer if traced else null)
        finally:
            if traced:
                tracer.uninstall()
        out["persisted"].append(_persisted(spark))
        if traced:
            out["traced_walls"].append(wall)
            out["traced_ops"].append(i)
            for k, v in _jobs(spark, tracer, i).items():
                out["jobs"][k] = out["jobs"].get(k, 0) + v
        else:
            out["walls"].append(wall)
            if rec is not None:
                out["parts"].append(rec["parts"])
                if rec["rows_s"] > 0:
                    out["rates"].append(rec["rows"] / rec["rows_s"])
        op_time += wall
        i += 1
        enough = (op_time >= args.seconds and i >= wl.min_ops
                  and (not args.trace or (i >= 3 and i % 2 == 1)))
        if enough or time.perf_counter() - t0 > MAX_LOOP_S:
            break
    out["run_s"] = time.perf_counter() - t0
    return out


def result_line(metrics: dict, units: dict, attempted: int, failed: int) -> dict:
    """The contract's last stdout line."""
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "golem_spark")):
        print(f"golem_spark not found under {ROOT}: run from a checkout of "
              "the repository", file=sys.stderr)
        return 2
    args.result = None
    rc = run(args)
    if rc != 0 or args.result is None:
        return rc or 1
    print(json.dumps(args.result["detail"]))
    print(json.dumps(args.result["final"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
