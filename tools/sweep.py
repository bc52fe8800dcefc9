"""Registry-wide perf sweep: time EVERY registry query at one SF dir
(default sf0.1), min-of-N (default 2) in a warm session, and print a
JSON report sorted slowest-first.

This is the outlier hunt that paid off in round 8 (found the 132s
PPJoin and the 117s fuzzy lev-2, both fixed to ~40s): correctness
gates never see a 100s-class query as broken, so the only way to
catch a byte-volume/double-execution regression is to time the whole
registry periodically. Timings on this host are page-cache-noisy
(the min-of-N is the signal; the first pass pays the scan cache);
the report also flags queries whose min exceeds ``--flag`` seconds
(default 60) as action items.

Usage:
    python tools/sweep.py [--sf DIR] [--runs N] [--flag SEC] \
        [--only name,name]
"""

import argparse
import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--flag", type=float, default=60.0)
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .appName("registry-sweep")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    if args.only:
        keep = {n.strip() for n in args.only.split(",") if n.strip()}
        qs = {n: f for n, f in qs.items() if n in keep}

    runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for rnd in range(args.runs):
        for name, fn in sorted(qs.items()):
            if name in errors:
                continue
            spark.catalog.clearCache()
            # clearCache() does not unpersist localCheckpoint blocks
            # (materialize's default mode) — drop them explicitly so
            # storage from earlier queries can't skew later timings
            # (same fix as bench._clear_storage).
            for rdd in (
                spark.sparkContext._jsc.getPersistentRDDs().values()
            ):
                rdd.unpersist(False)
            t0 = time.perf_counter()
            try:
                fn(spark, args.sf).count()
            except Exception as exc:  # noqa: BLE001 — record, continue
                errors[name] = f"{type(exc).__name__}: {str(exc)[:160]}"
                continue
            runs.setdefault(name, []).append(
                round(time.perf_counter() - t0, 3)
            )
            print(
                f"[{rnd + 1}/{args.runs}] {name}: {runs[name][-1]}s",
                file=sys.stderr,
            )
    mins = {n: min(r) for n, r in runs.items()}
    report = {
        "sf_dir": args.sf,
        "runs_per_query": args.runs,
        "total_min_sec": round(sum(mins.values()), 1),
        "flagged_over_sec": args.flag,
        "flagged": {
            n: s for n, s in mins.items() if s > args.flag
        },
        "errors": errors,
        "queries": dict(
            sorted(mins.items(), key=lambda kv: -kv[1])
        ),
        "all_runs": runs,
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
