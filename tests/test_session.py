"""A warm workload keeps its generated classes compiled.

Spark caches the classes it generates for whole-stage codegen, keyed
by the generated source, in one LRU per JVM. One pass of the four dedup
registry queries generates ~190 classes; ``build_session`` sizes the
cache above that and creates it while the session is active on the
builder's thread. The check runs in its OWN process, because the cache
is sized once per JVM and the shared test JVM has already sized it:

- build a session with ``build_session``;
- start the four queries together from 4 Python threads (a concurrent
  first query is what left the cache at Spark's 100 entries);
- run them in rotation twice, each result collected;
- the second rotation must add nothing to Spark's codegen compile
  counter (``CodegenMetrics.METRIC_COMPILATION_TIME``).

Run ``python tests/test_session.py <sf dir>`` to print the counts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from tests.conftest import SF_SMOKE  # noqa: E402

DEDUP_QUERIES = (
    "minhash_pairs_docs",
    "gram_dedup_docs",
    "ppjoin_neighbor_counts",
    "fuzzy_customer_pairs",
)


def compile_counts(sf_dir: str) -> dict:
    """Codegen compiles of a concurrent start and of two rotations."""
    from corral_spark.queries import REGISTRY
    from corral_spark.session import build_session, codegen_compiles

    spark = build_session(
        "codegen-cache-check",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> None:
        REGISTRY[name].spark(spark, sf_dir).collect()

    def clear_storage() -> None:  # only between queries: running ones read it
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)

    try:
        c0 = codegen_compiles(spark)
        with ThreadPoolExecutor(len(DEDUP_QUERIES)) as ex:
            list(ex.map(run, DEDUP_QUERIES))
        clear_storage()
        counts = {"start": codegen_compiles(spark) - c0}
        for label in ("rotation1", "rotation2"):
            c0 = codegen_compiles(spark)
            for name in DEDUP_QUERIES:
                run(name)
                clear_storage()
            counts[label] = codegen_compiles(spark) - c0
    finally:
        spark.stop()
    return counts


def test_warm_rotation_compiles_no_classes(tmp_path):
    env = dict(os.environ)
    # executor Python workers import corral_spark to unpickle UDFs
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO_ROOT), env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, __file__, SF_SMOKE],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, f"check failed:\n{proc.stdout}\n{proc.stderr[-2000:]}"
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert counts["start"] > 0, counts  # the counter does count this JVM's compiles
    assert counts["rotation2"] == 0, (
        f"a warm rotation recompiled generated classes: {counts}"
    )


if __name__ == "__main__":
    print(json.dumps(compile_counts(sys.argv[1] if len(sys.argv) > 1 else SF_SMOKE)))
