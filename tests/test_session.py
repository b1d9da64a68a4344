"""The engine's session factory (mini_etl_spark/session.py): defaults
``get_spark`` sets and ``extra_conf`` overrides — the generated-class
cache size (its conf, and a working set it keeps compiled), the driver
heap, and the checkpoint file manager of local sessions."""

from __future__ import annotations

from types import SimpleNamespace

_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every conf
    ``get_spark`` sets, in order, and starts no session."""

    def __init__(self):
        self.conf = {}

    def master(self, master):
        return self.config("spark.master", master)

    def appName(self, name):  # noqa: N802 - Spark's method name
        return self.config("spark.app.name", name)

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):  # noqa: N802
        return SimpleNamespace(
            conf=self.conf,
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


def test_get_spark_sizes_the_codegen_cache(spark, monkeypatch):
    """Every master gets a 1000-entry generated-class cache, and an
    ``extra_conf`` value wins over it. The size is a static conf, so the
    override is checked on the conf ``get_spark`` hands the builder."""
    import mini_etl_spark.session as session

    assert spark.conf.get(_CACHE_KEY) == "1000"

    def confs(**kwargs):
        monkeypatch.setattr(session, "SparkSession",
                            SimpleNamespace(builder=_RecordingBuilder()))
        return session.get_spark(**kwargs).conf

    for master in ("local[2]", "spark://cluster:7077"):
        assert confs(master=master)[_CACHE_KEY] == "1000"
        assert confs(master=master,
                     extra_conf={_CACHE_KEY: "50"})[_CACHE_KEY] == "50"


def test_get_spark_sizes_the_driver_heap_to_the_machine(monkeypatch):
    """The default driver heap is a quarter of physical memory, clamped
    to 1-32 GiB, and ``$SPARK_GRAFT_DRIVER_MEM`` wins over it."""
    import mini_etl_spark.session as session

    page = 4096
    phys_bytes = {}
    monkeypatch.setattr(session.os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": page,
        "SC_PHYS_PAGES": phys_bytes["n"] // page}[name])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def heap():
        monkeypatch.setattr(session, "SparkSession",
                            SimpleNamespace(builder=_RecordingBuilder()))
        return session.get_spark(master="local[2]").conf["spark.driver.memory"]

    gib = 1024 ** 3
    for total, expected in ((16 * gib, "4096m"), (2 * gib, "1024m"),
                            (256 * gib, "32768m")):
        phys_bytes["n"] = total
        assert heap() == expected
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert heap() == "3g"


def test_codegen_cache_holds_a_working_set_over_100_classes(spark):
    """A cycle over 120 distinct generated classes stays compiled: the
    second pass over the same query shapes compiles nothing. Spark's
    default 100-entry LRU evicts each class before the cycle comes round
    to it again, so there every class of the second pass recompiles."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def compile_shapes():
        for i in range(120):
            # each literal makes a distinct whole-stage class; execute()
            # compiles it on the driver and runs no job
            df = spark.range(4).selectExpr(f"id + {i} AS x").where(
                f"x % 7 <> {i}")
            df._jdf.queryExecution().executedPlan().execute()

    before = compiles.getCount()
    compile_shapes()
    first = compiles.getCount() - before
    compile_shapes()
    assert first > 100
    assert compiles.getCount() - before == first


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_SQL_STREAMING = "org.apache.spark.sql.execution.streaming.checkpointing."


def test_local_session_checkpoints_through_filesystem_manager(spark):
    """``get_spark`` on a local master commits checkpoints through the
    FileSystem-based manager (no forked ``chmod``/``readlink`` per
    rename), and ``extra_conf`` still overrides it."""
    from mini_etl_spark.session import get_spark

    assert spark.conf.get(_MANAGER_KEY) == (
        _SQL_STREAMING + "FileSystemBasedCheckpointFileManager")
    other = _SQL_STREAMING + "FileContextBasedCheckpointFileManager"
    try:
        # the builder re-applies its runtime confs to the shared session:
        # pass the fixture's own arguments so only the manager changes
        session = get_spark("mini-etl-spark-tests", shuffle_partitions=8,
                            extra_conf={_MANAGER_KEY: other})
        assert session.conf.get(_MANAGER_KEY) == other
    finally:
        spark.conf.set(_MANAGER_KEY,
                       _SQL_STREAMING + "FileSystemBasedCheckpointFileManager")
