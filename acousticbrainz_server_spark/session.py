"""SparkSession factory.

Local-mode settings are tuned for the test/bench harness (local[N], one JVM);
the same builder config is what we would ship to a real cluster, minus master
and driver-memory (which come from spark-submit there).  Key choices:

- AQE on: runtime coalescing / skew-join handling replaces hand-tuned batch
  sizes the reference uses (e.g. ADD_METRICS_BATCH_SIZE=10000,
  reference similarity/manage.py:12) — Spark picks partition sizes at runtime.
- shuffle.partitions ~ cores for local mode; on a 1000-executor cluster this
  would be set ~2-3x total cores (or left to AQE's coalescing with a high
  initial value).
- session timezone pinned UTC: the reference stores TIMESTAMPTZ (UTC) and the
  DuckDB oracle is UTC-naive — pinning makes results comparable.
- Arrow enabled: every Pandas-UDF boundary (external-binary map stage, custom
  dedup kernels) moves data in Arrow batches, not pickled rows.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_reaped = False
_scratch_owner: int | None = None


def _scratch_root(pid: int) -> str:
    return os.path.join(tempfile.gettempdir(), f"abspark_{pid}")


def _remove_scratch_root(pid: int) -> None:
    if os.getpid() == pid:  # a forked child inherits the hook, not the root
        shutil.rmtree(_scratch_root(pid), ignore_errors=True)


def scratch_dir(kind: str, key: str) -> str:
    """This process's scratch dir for ``(kind, key)``, created on first use:
    ``<tmp>/abspark_<pid>/<kind>/<md5(key)[:8]>``.

    Every ``abspark_*`` scratch area except the sink strike markers
    (sources/pydatasource.py) lives under the one ``abspark_<pid>`` root, so
    its owner is visible in the path: an ``atexit`` hook removes the root
    when this process exits, and :func:`reap_scratch` removes the roots of
    processes that died without running it.  A root that already exists at
    this process's first use was left by a dead process with the same pid,
    so it is cleared, never reused."""
    global _scratch_owner
    pid = os.getpid()
    if _scratch_owner != pid:
        _scratch_owner = pid
        shutil.rmtree(_scratch_root(pid), ignore_errors=True)
        atexit.register(_remove_scratch_root, pid)
    tag = hashlib.md5(key.encode()).hexdigest()[:8]
    path = os.path.join(_scratch_root(pid), kind, tag)
    os.makedirs(path, exist_ok=True)
    return path


def reap_scratch() -> list[str]:
    """Remove the scratch roots (``abspark_<pid>``, see :func:`scratch_dir`)
    of processes that are no longer running.  A root whose pid is alive,
    this process's own included, is never touched.  Returns the removed
    paths."""
    removed: list[str] = []
    tmp = tempfile.gettempdir()
    try:
        entries = os.listdir(tmp)
    except OSError:
        return removed
    for e in entries:
        m = re.fullmatch(r"abspark_(\d+)", e)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            path = os.path.join(tmp, e)
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
        except OSError:  # EPERM: alive, owned by another user
            pass
    return removed


def get_spark(
    app_name: str = "acousticbrainz_server_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with engine defaults."""
    global _reaped
    if not _reaped:
        _reaped = True
        reap_scratch()
    # Parallelism belongs to Spark, not to BLAS: numpy kernels inside Pandas
    # UDFs already run in one Python worker per core — letting OpenBLAS spawn
    # its own thread pool per worker oversubscribes cores ~32x (measured 6x
    # wall-clock swings on the sgemm dedup kernel).  Workers inherit this env.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the planner choose shuffled-hash join when its size conditions
        # hold instead of always preferring sort-merge (optimization guide
        # §3.1): the per-partition hash build skips both sort passes.  This
        # is planner-gated by build-side size (not a forced hint), so joins
        # whose build side cannot fit per-partition still take sort-merge.
        # r12 interleaved A/B over the 35 heaviest batch queries: total
        # min-over-trials 85.4 -> 78.3 s, 14 queries >10% faster (graph edge
        # builders, dedup shingle joins, ANN probes), none reproducibly
        # slower on re-test.  Scale note: same setting a 100 TB deployment
        # wants — SMJ remains the fallback wherever estimates say a
        # partition's build side is large.  Tradeoff (r12 ADVICE): an SHJ
        # build side cannot SPILL, so a badly misestimated post-filter
        # cardinality or a skewed key can OOM an executor where SMJ would
        # have spilled; the planner gate (~64 MB x shuffle partitions) plus
        # AQE skew splitting is the guard — watch skewed joins if estimates
        # are ever known to be unreliable for a workload.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
