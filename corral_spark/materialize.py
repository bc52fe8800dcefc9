"""Conf-switched materialization barrier for iterative / multi-consumer
plans.

Every hot path that must cut lineage (dedup candidate generation,
connected-components iteration, sketch summaries) routes through
``materialize`` instead of calling ``localCheckpoint`` directly, so the
reliability/speed trade-off is a DEPLOYMENT choice, not a code fork:

* ``localCheckpoint`` (default) — partitions stored on executor local
  disk/memory, lineage truncated, NO recompute fallback. Fastest; the
  right choice on a dedicated local/driver run, but on a preemptible
  100 TB cluster one lost executor fails the job.
* ``checkpoint`` — reliable checkpointing to the (shared/HDFS/object-
  store) checkpoint dir: survives executor loss, costs a write+read of
  the materialized set. The production default for spot fleets. Needs
  ``spark.corral.checkpointDir`` (or a dir set via
  ``SparkContext.setCheckpointDir``).
* ``persist`` — MEMORY_AND_DISK caching: keeps lineage (recompute
  fallback on block loss) without truncating it. Right when the
  upstream plan is cheap to replay but reused often; wrong for deep
  iterative loops (plans keep growing).

Select with ``spark.conf.set("spark.corral.materialize", mode)`` —
a runtime conf, so one session can run different stages differently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

CONF_KEY = "spark.corral.materialize"
CHECKPOINT_DIR_KEY = "spark.corral.checkpointDir"

_MODES = ("localCheckpoint", "checkpoint", "persist")

#: Last ckdir conf value this module actually bound, per SparkContext
#: (keyed by id() — contexts are process-singletons in practice and a
#: restarted context gets a fresh object). Spark appends a random
#: subdir per setCheckpointDir call and may prepend a filesystem
#: scheme, so the bound dir reported by getCheckpointDir() can't be
#: string-compared against the conf; tracking the conf value we bound
#: is the only reliable change detector (substring containment broke
#: on /data/ck vs /data/ck-v2 — a conf change to a path that is a
#: substring of the old binding was silently ignored).
_BOUND_CKDIR: dict[int, str] = {}


def iter_barrier(df: DataFrame, with_count: bool = False):
    """Materialization barrier for ITERATIVE loops — like
    ``materialize`` but guarantees the barrier output carries
    ACCURATE stats, not estimates.

    ``localCheckpoint``/``checkpoint`` truncate lineage but snapshot
    the stats of the plan they replace — ESTIMATED stats. In a loop
    whose next round joins the barrier output with itself, the
    estimates COMPOUND: each round's estimate is a product of the
    previous round's (measured on a 128-node graph in a vanilla
    session: sizeInBytes 9.0E+75 B after iteration 0, 5.4E+232158 B
    by iteration 11) until Catalyst's stats arithmetic throws
    "BigInteger would overflow supported range" — found by a fuzz
    campaign; the earlier connected_components loop had the same
    latent defect.
    Caching first reduces the checkpointed plan to an
    InMemoryRelation whose stats are the ACTUAL materialized bytes,
    so the checkpoint inherits truth (measured: 2.0 KiB with a row
    count, stable across 60 rounds) and every downstream join picks
    its strategy from real sizes.

    In ``persist`` mode the cache IS the barrier (no truncation —
    the module docstring already flags persist as wrong for deep
    loops), so the frame is returned still-cached. Loop frames are
    deliberately NOT unpersisted by callers in this mode: persist
    keeps lineage, so releasing a parent frame re-expands every later
    plan back through the whole iteration history (measured OOM by
    iteration ~12 of a cached-only variant, docs/SCALE.md); the cost
    of keeping them is bounded by the loop's max_iter and
    MEMORY_AND_DISK evicts to disk rather than OOM. Deep iterative
    loops should run under the default localCheckpoint (or checkpoint)
    mode.

    ``with_count=True`` returns ``(frame, row_count)`` — the barrier
    already pays a count job to materialize the cache, so loop
    callers that need the cardinality (convergence checks) must reuse
    it rather than paying a second count job per round.
    """
    spark = df.sparkSession
    if spark.conf.get(CONF_KEY, "localCheckpoint") == "persist":
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        n = out.count()
        return (out, n) if with_count else out
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    n = cached.count()
    out = materialize(cached, eager=True)
    cached.unpersist(False)
    return (out, n) if with_count else out


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` per the session's ``spark.corral.materialize``
    mode (default ``localCheckpoint``). ``eager=False`` defers the
    job to the first action for localCheckpoint/checkpoint; persist is
    always lazy unless ``eager`` forces a count."""
    spark = df.sparkSession
    mode = spark.conf.get(CONF_KEY, "localCheckpoint")
    if mode == "localCheckpoint":
        return df.localCheckpoint(eager=eager)
    if mode == "checkpoint":
        sc = spark.sparkContext
        ckdir = spark.conf.get(CHECKPOINT_DIR_KEY, None)
        bound = sc.getCheckpointDir()
        if ckdir is not None:
            # Re-bind whenever the conf VALUE changed from what we last
            # bound (or the context has a binding we didn't make) — a
            # later stage may legitimately redirect, and conf changes
            # must never be silently ignored.
            if bound is None or _BOUND_CKDIR.get(id(sc)) != ckdir:
                sc.setCheckpointDir(ckdir)
                _BOUND_CKDIR[id(sc)] = ckdir
        elif bound is None:
            raise ValueError(
                f"{CONF_KEY}=checkpoint needs {CHECKPOINT_DIR_KEY} "
                "(or SparkContext.setCheckpointDir) pointing at "
                "shared storage"
            )
        # Lifecycle note: reliable checkpoint files outlive the frames
        # that made them unless the session was built with
        # spark.cleaner.referenceTracking.cleanCheckpoints=true (a
        # build-time conf) — long-running production sessions should
        # set it, or sweep the dir between pipeline runs.
        return df.checkpoint(eager=eager)
    if mode == "persist":
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            out.count()
        return out
    raise ValueError(f"unknown {CONF_KEY}={mode!r}; expected one of {_MODES}")
