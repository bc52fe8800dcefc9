"""Session-level costs a warm workload must not pay again.

Each check runs in its OWN process, because what it measures is set
once per JVM or per Python worker daemon, and the shared test session
has already set it.

Generated classes. Spark caches the classes it generates for
whole-stage codegen, keyed by the generated source, in one LRU per
JVM. One pass of the four dedup registry queries generates ~190
classes; ``build_session`` sizes the cache above that and creates it
while the session is active on the builder's thread:

- build a session with ``build_session``;
- start the four queries together from 4 Python threads (a concurrent
  first query is what left the cache at Spark's 100 entries);
- run them in rotation twice, each result collected;
- the second rotation must add nothing to Spark's codegen compile
  counter (``CodegenMetrics.METRIC_COMPILATION_TIME``).

Python workers. A local session runs its workers from
``corral_spark.worker_daemon``, so the ``importlib.invalidate_caches()``
pyspark's worker calls before each task re-reads no unchanged zip
archive (16 directory reads a task without it). The session is built
from a directory outside the repo with ``PYTHONPATH`` unset, so the
workers find the package only through the session's own conf.

Run ``python tests/test_session.py <sf dir>`` to print the compile
counts, ``python tests/test_session.py workers`` (from any directory)
for the worker check, and ``python tests/test_session.py zipguard
<dir>`` for the archive-guard check without Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

import pytest  # noqa: E402

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


def _run_check(args: list[str], cwd, env: dict) -> dict:
    proc = subprocess.run(
        [sys.executable, __file__, *args],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(cwd),
        env=env,
    )
    assert proc.returncode == 0, f"check failed:\n{proc.stdout}\n{proc.stderr[-2000:]}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_warm_rotation_compiles_no_classes(tmp_path):
    counts = _run_check([SF_SMOKE], tmp_path, dict(os.environ))
    assert counts["start"] > 0, counts  # the counter does count this JVM's compiles
    assert counts["rotation2"] == 0, (
        f"a warm rotation recompiled generated classes: {counts}"
    )


def _count_archive_reads() -> int:
    """The zip-archive directory reads one ``importlib.invalidate_caches()``
    makes."""
    import importlib
    import zipimport

    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    return len(reads)


def _archive_reads(_) -> tuple[int, int]:
    """In a Python worker: the archive reads of one
    ``importlib.invalidate_caches()``, and the zipimporters on the
    worker's import path."""
    import zipimport

    finders = sys.path_importer_cache.values()
    importers = [f for f in finders if isinstance(f, zipimport.zipimporter)]
    return _count_archive_reads(), len(importers)


def _write_module_zip(path: str, name: str, value: int, pad: int = 0) -> None:
    """Write a zip holding module ``name``; ``pad`` bytes of another
    entry first move the module's offset in the archive."""
    with zipfile.ZipFile(path, "w") as z:
        if pad:
            z.writestr("pad.txt", "x" * pad)
        z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def worker_probe() -> dict:
    """A pure-Python RDD job, the archive reads of warm workers, and a
    module shipped with ``addPyFile`` after the workers started."""
    from corral_spark.session import build_session

    spark = build_session(
        "worker-daemon-check",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    try:
        squares = sc.parallelize(range(8), 2).map(lambda x: x * x).collect()
        reads = sc.parallelize(range(4), 2).map(_archive_reads).collect()
        late_zip = os.path.abspath("late_mod.zip")
        _write_module_zip(late_zip, "late_mod", 42)
        sc.addPyFile(late_zip)
        late = (
            sc.parallelize([0], 1).map(lambda _: __import__("late_mod").VALUE).collect()
        )
    finally:
        spark.stop()
    return {"squares": squares, "reads": reads, "late": late}


@pytest.fixture(scope="module")
def workers(tmp_path_factory):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    return _run_check(["workers"], tmp_path_factory.mktemp("workers"), env)


def test_python_job_from_another_directory(workers):
    assert workers["squares"] == [x * x for x in range(8)]


def test_warm_worker_rereads_no_archive(workers):
    # pyspark's own daemon reads 16 archive directories here
    assert all(importers > 0 for _, importers in workers["reads"]), workers
    assert [n for n, _ in workers["reads"]] == [0, 0, 0, 0], workers


def test_module_added_after_workers_started_imports(workers):
    assert workers["late"] == [42]


def zip_guard_probe(work_dir: str) -> dict:
    """Import a module from a zip, rewrite the zip, import it again, with
    the archive guard installed and no Spark."""
    from corral_spark.worker_daemon import install_zip_guard

    install_zip_guard()
    archive = os.path.join(work_dir, "guarded.zip")
    _write_module_zip(archive, "guarded_mod", 1)
    sys.path.insert(0, archive)
    import guarded_mod

    out = {
        "first": guarded_mod.VALUE,
        "reads": [_count_archive_reads(), _count_archive_reads()],
    }
    # at a new offset: a stale directory would read the wrong bytes
    _write_module_zip(archive, "guarded_mod", 22, pad=100)
    out["reads"].append(_count_archive_reads())
    del sys.modules["guarded_mod"]
    import guarded_mod  # noqa: F811

    out["second"] = guarded_mod.VALUE
    return out


def test_rewritten_archive_is_read_again(tmp_path):
    out = _run_check(["zipguard", str(tmp_path)], tmp_path, dict(os.environ))
    assert (out["first"], out["second"]) == (1, 22), out
    if (3, 10) <= sys.version_info < (3, 13):  # the guard is installed
        # first call stamps the archive, the second reuses it, and the
        # rewrite is read again
        assert out["reads"] == [1, 0, 1], out


if __name__ == "__main__":
    arg = sys.argv[1] if len(sys.argv) > 1 else SF_SMOKE
    if arg == "workers":
        print(json.dumps(worker_probe()))
    elif arg == "zipguard":
        print(json.dumps(zip_guard_probe(sys.argv[2])))
    else:
        print(json.dumps(compile_counts(arg)))
