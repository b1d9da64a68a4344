"""SparkSession factory with scale-appropriate defaults.

The reference engine has no session concept (single-process pandas); here the
session is the engine. Defaults are chosen for correctness-at-scale:

- AQE on (runtime partition coalescing, skew-join splitting) — replaces the
  reference's manual ``ChunkBalancer`` (``mini_etl/core/parallel.py:204-245``);
- UTC session timezone so timestamp semantics are stable and match external
  oracles (DuckDB timestamps are UTC-naive);
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas);
- ANSI mode OFF: the reference's casts are lenient (``errors="coerce"`` →
  null on parse failure, ``mini_etl/components/transformers.py:211-218``), and
  the engine's cast operator uses ``try_cast`` regardless.

``shuffle_partitions`` defaults to the env override or local core count; on a
real cluster you would size it to ~2-3× total executor cores (or simply let
AQE coalesce from a higher initial number).

On a ``local[...]`` master, streaming checkpoints go through Spark's
FileSystem-based checkpoint file manager rather than its FileContext
default. Without the native Hadoop library (the usual case for a pip-installed
PySpark: "Unable to load native-hadoop library"), Hadoop's
``RawLocalFileSystem`` forks a shell command for metadata operations:
``chmod`` on every file create and ``readlink`` on every
``getFileLinkStatus``, which the FileContext manager calls on every rename.
Every micro-batch writes an offset-log and a commit-log entry, so each commit
paid those forks. The FileSystem-based manager renames with
``File.renameTo``, which forks nothing. Measured on a 4-vCPU VM, 40 one-file
micro-batches through ``stream_to_files``: the JVM's reaped children used
4.3 CPU-s with the FileContext manager and 1.1 CPU-s with this one, the
offset-log write (``walCommit``) p50 fell from 35 ms to 8 ms, ``commitOffsets``
from 34 ms to 8 ms, and the wall time from 11.8 s to 7.4 s. Both managers
write a temp file and rename it into place; on the local file system neither
one's no-overwrite rename is atomic (the FileContext path is the same
check-then-rename), so no guarantee is lost. Cluster masters keep Spark's
choice, and ``extra_conf`` still overrides it.

Every master sizes Spark's cache of generated classes
(``spark.sql.codegen.cache.maxEntries``) to 1000 entries instead of 100.
Catalyst compiles each physical plan's whole-stage code, predicates,
projections and orderings into Java classes with Janino and keys the LRU
cache by the generated source. One round of the benchmark's batch workload
(six pipelines plus ``clean_corpus``) touches about 137 distinct classes,
and a workload that repeats its plans in a cycle over an LRU smaller than
its working set never hits: each class is evicted before its turn comes
round again. So every round recompiled about 90 of them (``clean_corpus``
45-47, the dedup-sort pipeline 16-17, the others 2-9 each), and HotSpot
then had to JIT each new class again. Measured on a 4-vCPU VM, rounds 2-5
of that workload in one JVM, untraced, seed 1, 100 entries against 1000:
codegen compiles per round 90-91 against 0; HotSpot JIT time 10.5 / 9.6 /
6.9 / 5.4 s against 7.3 / 5.0 / 3.5 / 2.1 s; round CPU 21.7 / 21.2 / 19.0
/ 17.9 s against 16.4 / 13.9 / 12.0 / 10.2 s; round wall time 8.10 / 8.12
/ 7.90 / 8.16 s against 6.22 / 5.91 / 5.60 / 5.18 s. 1000 entries hold
that working set with room for the extension operators' plans. The cost is heap and metaspace, and it grows with the size of
the generated code: 800 distinct tiny (range-project-filter) classes kept
19.0 MiB more heap at 1000 entries and 4.8 MiB at 100, and 7.5-8.3 MiB
more metaspace either way. It is a static conf, so it takes effect when
``get_spark`` starts the session; a running session keeps its size. Executors
keep their own cache and read the size from SparkConf, which is why it is
set on every master. ``extra_conf`` still overrides it.

The driver heap (``spark.driver.memory``; in local mode the one JVM's
``-Xmx``) defaults to a quarter of the machine's physical memory, at least
1 GiB and at most 32 GiB, the share the benchmark pins for its own runs;
``$SPARK_GRAFT_DRIVER_MEM`` overrides it. The old fixed 32 GiB default was
more than a 16 GB machine has. G1 grows the heap rather than collect while
the maximum allows it, so a long-lived session (the test suite runs about a
thousand tests in one JVM) reached 11-15 GB resident on such a machine, and
the kernel's OOM killer ended the JVM mid-run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_APP_NAME = "mini-etl-spark"
#: entries in Spark's generated-class cache (see the module docstring)
_CODEGEN_CACHE_ENTRIES = 1000
_LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _default_driver_memory() -> str:
    """A quarter of physical memory, clamped to [1 GiB, 32 GiB] (see the
    module docstring); 32 GiB where the platform cannot tell."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "32g"
    quarter_mib = total // (4 * 1024 * 1024)
    return f"{max(1024, min(32 * 1024, quarter_mib))}m"


def get_spark(
    app_name: str = _DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the engine's SparkSession.

    Parameters are intentionally few: everything else is expressible via
    ``extra_conf``, which is applied last and so overrides every default
    set here (AQE, UTC, Arrow, ANSI off, the generated-class cache size,
    and on a local master the checkpoint file manager). Honors
    ``$SPARK_GRAFT_CPUS`` for local parallelism so the bench driver
    controls the core count. Static confs (the cache size among them)
    take effect only when this call starts the session; Spark
    reuses a running session and applies only its runtime confs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
    # runtime litter OFF the repo/cwd: the Hive-less warehouse dir and the
    # Derby metastore log serve nothing in this engine (no managed tables),
    # so park both under the system temp dir instead of regenerating
    # ./spark-warehouse and ./derby.log wherever the process starts
    import tempfile

    scratch = os.path.join(tempfile.gettempdir(), "mini-etl-spark")
    os.makedirs(scratch, exist_ok=True)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={scratch} -Dderby.stream.error.file="
            f"{os.path.join(scratch, 'derby.log')}",
        )
        # local mode = one JVM; driver memory is the only heap knob.
        # No effect if a session already exists (builder reuses it).
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # streaming Pipeline stats sum observed metrics over recentProgress;
        # the default ring buffer (100) would undercount runs with >100
        # micro-batches — 10k covers any availableNow backlog job (a
        # continuously-running service should attach a listener instead)
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        # hold the engine's working set of generated classes (see the
        # module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
    )
    if master.startswith("local"):
        # fork-free checkpoint renames (see the module docstring)
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            _LOCAL_CHECKPOINT_FILE_MANAGER,
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def estimated_bytes(df) -> int | None:
    """The optimizer's size estimate for ``df`` in bytes (driver-side
    statistics only: no job, no scan), or ``None`` when the plan's size is
    unknown. A leaf without statistics (an RDD-backed frame such as a
    ``createDataFrame`` result) reports ``spark.sql.defaultSizeInBytes``,
    which defaults to Long.MaxValue, and a plan over it reports that or
    more; a guard must not read that sentinel as "too big"."""
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return None if est >= conf.defaultSizeInBytes() else est
