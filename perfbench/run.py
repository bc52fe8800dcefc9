#!/usr/bin/env python3
"""corral_spark benchmark: one workload, one fresh process.

    python3 perfbench/run.py --workload olap_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed`` under ``perfbench/.work/``, starts a session on
``local[nproc]``, runs two untimed warm-up passes over the
workload's ops, several ops at a time, and checks every result against
its reference; then it runs timed passes, in an order drawn from the
seed, as long as the next pass is expected to end within
``--seconds`` (at least one). Every timed op is checked right after
it, untimed.

The JVM runs with the C1 JIT compiler only. With the default tiered
JIT, C2 keeps recompiling Spark's planner for minutes (on a 4-vCPU VM
a dedup pass fell from 9.8 s to 5.7 s over six passes, 45 s, after
the warm-up), so a time-limited run would report whatever point of
that curve the host's speed let it reach. With C1 the pass time levels off within
the warm-up. C1 alone gets a 48 MB code cache, which Spark fills in
about 45 s; the sweeper then flushes compiled methods and C1 compiles
them again, one pass running ~35 % slower. So the code cache is set to
240 MB, its size under the default tiered JIT.

stdout: a ``{"perfbench": "run", ...}`` detail line (host, per-op
times, the tail percentile and sample count), then, last, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones:

* ``setup_s``: process start to the first timed op, minus input
  generation, the host probe and reference checks;
* ``pass_s``: median over timed passes of the summed op latencies;
* ``op_p50_s`` / ``op_tail_s``: per-op latency over all timed ops: the
  median and the interpolated p90;
* ``ok_frac``: timed ops whose result matched the reference;
* ``peak_rss_mb``: peak summed RSS of the driver, the JVM and the
  Python workers during the timed passes.

With ``--trace 1`` the metrics are the per-layer ones (trace.py), and
the spans are written to ``perfbench/.traces/``.

Exits non-zero without a result, on an ImportError, when the program
(``bench.py``, ``corral_spark/``) is not next to ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
sys.path.insert(0, str(ROOT))

from bench import _clear_storage as clear_storage  # noqa: E402
from perfbench import datagen  # noqa: E402
from perfbench.rss import RssSampler, alive, descendants  # noqa: E402
from perfbench.trace import LAYER_METRICS, NullTracer, Tracer, layer_extras  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx, make_ops  # noqa: E402

NULL_TRACER = NullTracer()

#: Scale factor of the generated tables (lineitem = 6M x SF rows).
SF = 0.01
#: Driver JVM heap.
DRIVER_MEMORY = "2g"
#: Untimed warm-up passes. After one, the first timed pass still ran
#: ~10 % slower than the later ones.
WARM_PASSES = 2


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def isolate(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and make the
    checkout importable on executor Python workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # C1 only, with the default code cache size: see the module docstring
    env["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
        " -XX:ReservedCodeCacheSize=240m"
    )
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work: Path, nproc: int):
    from corral_spark.session import build_session

    spark = build_session(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(work / "tmp"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process this run
    started (the JVM and the Python workers it forked) has ended."""
    tree = descendants(os.getpid())
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for grace in (30, 10):
        deadline = time.monotonic() + grace
        while (left := [p for p in tree if alive(p)]) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def execute(op, tracer=NULL_TRACER, pass_i: int = -1) -> tuple:
    """Run one op's timed phases; return (result, error, seconds)."""
    t0 = time.perf_counter()
    result, err = None, None
    with tracer.op(op, pass_i):
        try:
            with tracer.phase("build"):
                handle = op.build()
            with tracer.phase("action"):
                result = op.act(handle)
            tracer.note_result(result)
        except Exception:  # a failed op counts as a miss
            err = traceback.format_exc()
    return result, err, time.perf_counter() - t0


def verify(op, result, err, op_s: float) -> dict:
    """The untimed check of one op's result against its reference."""
    ok = False
    if err is None:
        try:
            ok = bool(op.check(result))
        except Exception:
            err = traceback.format_exc()
    if err:
        print(f"perfbench: op {op.name} failed:\n{err}", file=sys.stderr)
    elif not ok:
        print(f"perfbench: op {op.name} result differs from reference", file=sys.stderr)
    return {"op": op.name, "s": op_s, "ok": ok}


def run_pass(ops, order, tracer, pass_i: int, spark) -> list[dict]:
    """One timed pass: the ops one after another, each checked right
    after it ran and the persisted RDDs cleared before the next."""
    out = []
    with tracer.pass_span(pass_i):
        for i in order:
            out.append(verify(ops[i], *execute(ops[i], tracer, pass_i)))
            clear_storage(spark)
    return out


def warm_up(ops, order, spark, threads: int) -> tuple[list[dict], float]:
    """The untimed warm-up pass: every op once, ``threads`` at a time
    (cold starts overlap); then every result checked, also ``threads``
    at a time (the first check of a query computes its oracle digest).
    Returns the checked results and the wall time of the checks."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(threads) as ex:
        runs = list(ex.map(execute, [ops[i] for i in order]))
        t = time.perf_counter()
        out = list(ex.map(lambda i, r: verify(ops[i], *r), order, runs))
    clear_storage(spark)
    return out, time.perf_counter() - t


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the tail: the p90, interpolated between
    the two nearest samples. A run times 4 to 32 ops, too few for a
    higher percentile, and a fixed percentile does not move when a
    slower host fits one pass fewer into a run."""
    if len(xs) == 1:
        return xs[0], 90.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8], 90.0


def pass_times(passes: list[list[dict]]) -> list[float]:
    return [sum(r["s"] for r in p) for p in passes]


def end_to_end(setup_s: float, passes: list[list[dict]], peak_rss: int) -> tuple[dict, dict]:
    lat = [r["s"] for p in passes for r in p]
    tail_s, tail_pct = tail(lat)
    ok = sum(r["ok"] for p in passes for r in p)
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(pass_times(passes)), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "ok_frac": (ok / len(lat), "fraction"),
        "peak_rss_mb": (peak_rss / 1e6, "MB"),
    }
    return metrics, {"op_tail_percentile": tail_pct, "op_samples": len(lat)}


def run(args, work: Path) -> dict:
    isolate(work)
    excluded = 0.0  # input generation, host probe, reference checks

    t = time.perf_counter()
    paths = datagen.generate(str(work / "data"), args.seed, SF)
    os.environ["SPARK_GRAFT_SF_DIR"] = paths["sf_dir"]  # the probe's scan dir
    from tools.hostprobe import light_probe

    probe = light_probe()
    excluded += time.perf_counter() - t

    t = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    spark = start_session(work, nproc)
    session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        ctx = Ctx(spark, paths["sf_dir"], paths["corpus_dir"], paths["cdc_dir"], str(work / "out"))
        ops = make_ops(ctx, args.workload)
        excluded += time.perf_counter() - t

        rng = random.Random(args.seed)
        t = time.perf_counter()
        warm, checks = [], 0.0
        for _ in range(WARM_PASSES):
            out, s = warm_up(ops, rng.sample(range(len(ops)), len(ops)), spark, nproc)
            warm.append(out)
            checks += s
        warm_s = time.perf_counter() - t - checks
        excluded += checks
        setup_s = process_age_s() - excluded

        tracer = Tracer(spark) if args.trace else NULL_TRACER
        if args.trace:
            tracer.install()
        sampler = RssSampler(os.getpid())
        sampler.start()
        steal0, total0 = cpu_ticks()
        passes: list[list[dict]] = []
        t0 = time.perf_counter()
        while True:
            order = rng.sample(range(len(ops)), len(ops))
            passes.append(run_pass(ops, order, tracer, len(passes), spark))
            next_end = time.perf_counter() - t0 + statistics.median(pass_times(passes))
            if next_end > args.seconds:
                break
        peak = sampler.stop()
        steal1, total1 = cpu_ticks()

        metrics, stats = end_to_end(setup_s, passes, peak)
        detail = {
            "perfbench": "run",
            "workload": args.workload,
            "seed": args.seed,
            "sf": SF,
            "host": {
                "nproc": nproc,
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "probe": probe,
                # CPU time the hypervisor gave to other guests during the
                # timed passes: the usual cause of slow runs on shared hosts
                "steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
            },
            "setup": {"session_s": session_s, "warm_s": warm_s, "excluded_s": excluded},
            "warmup": [[[r["op"], round(r["s"], 4), r["ok"]] for r in p] for p in warm],
            "passes": [[[r["op"], round(r["s"], 4), r["ok"]] for r in p] for p in passes],
            "peak_rss_procs": sampler.peak_procs,
            **stats,
        }
        attempted = stats["op_samples"]
        failed = sum(not r["ok"] for p in passes for r in p)
        if args.trace:
            extras = layer_extras(spark, ctx, tracer, [op.name for op in ops])
            extras.update({"session.start_s": session_s, "session.warm_s": warm_s})
            layer = tracer.layer_metrics(extras)
            metrics = {k: (layer[k], LAYER_METRICS[k]) for k in LAYER_METRICS}
            trace_path = BENCH / ".traces" / f"{args.workload}-{args.seed}-{os.getpid()}.json"
            tracer.dump(str(trace_path), detail)
            detail["trace_file"] = str(trace_path.relative_to(ROOT))
    finally:
        stop_session(spark)
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
