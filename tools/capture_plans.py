"""Capture .explain("formatted") for a set of registry queries at sf0.1
into <out_dir>/<query>_<suffix>.txt, for before/after plan comparisons.

Usage: python tools/capture_plans.py <out_dir> <suffix> [query ...]
Defaults to the headline set when no query names are given. Write the
plans outside the repository (a scratch directory).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    out_dir, suffix = Path(sys.argv[1]), sys.argv[2]
    names = sys.argv[3:]
    from corral_spark.queries import REGISTRY
    from corral_spark.session import local_session

    if not names:
        names = [n for n, q in REGISTRY.items() if q.headline]
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = local_session("corral_spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.1"
    for name in names:
        df = REGISTRY[name].spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
