"""The shared publication protocol of the streaming sinks
(mini_etl_spark/streaming/publish.py): snapshot publication on URI
targets, and the query-start flags and triggers on every checkpointed
sink."""

from __future__ import annotations

import pytest

SCHEMA = "doc_id long, source string, text string, v double"
ROWS = [
    (1, "code", "def main return import module function class", 1.0),
    (2, "code", "compile function stack import module error", 2.0),
    (3, "news", "election results announced by the government", 3.0),
    (4, "news", "the government said election results arrived", 4.0),
]


def _stream(spark, src, per_trigger=None):
    reader = spark.readStream.schema(SCHEMA)
    if per_trigger:
        reader = reader.option("maxFilesPerTrigger", per_trigger)
    return reader.parquet(str(src))


def test_snapshot_sinks_publish_to_uri_targets(spark, tmp_path):
    """A snapshot sink aimed at a ``file://`` target publishes, flips its
    ``_LATEST`` pointer, merges the next batch and GCs superseded
    snapshots — the pointer and its GC go through the Hadoop FS like every
    other state file, so URI targets work like local paths."""
    from mini_etl_spark.functions.lm import train_bigram_lm
    from mini_etl_spark.streaming import (
        read_latest_snapshot,
        stream_lm_update,
        stream_upsert_to_parquet,
    )

    src = tmp_path / "src"
    # three batches: publish, merge, merge + snapshot GC
    for i, part in enumerate([ROWS[:2], ROWS[2:3], ROWS[3:]]):
        spark.createDataFrame(part, SCHEMA).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    upsert = (tmp_path / "upsert").as_uri()
    model = (tmp_path / "model").as_uri()
    assert upsert.startswith("file://")

    stream_upsert_to_parquet(_stream(spark, f"{src}/*", 1), upsert, ["doc_id"],
                             (tmp_path / "cp_upsert").as_uri())
    stream_lm_update(_stream(spark, f"{src}/*", 1), model,
                     (tmp_path / "cp_lm").as_uri())

    got = sorted(tuple(r) for r in read_latest_snapshot(spark, upsert).collect())
    assert got == ROWS
    lm = {(r.prev, r.cur): r.cnt
          for r in read_latest_snapshot(spark, model).collect()}
    assert lm == {(r.prev, r.cur): r.cnt
                  for r in train_bigram_lm(
                      spark.createDataFrame(ROWS, SCHEMA)).collect()}
    for target in ("upsert", "model"):
        snaps = sorted(p.name for p in (tmp_path / target).iterdir()
                       if p.name.startswith("snap="))
        assert snaps == ["snap=1", "snap=2"]  # GC kept new + predecessor
        assert (tmp_path / target / "_LATEST").is_file()


@pytest.fixture(scope="module")
def models(spark, tmp_path_factory):
    """The persisted inputs the gates read: NB model, bigram LM, drift
    baseline, and a minhash index (only the dedup case appends to it)."""
    from mini_etl_spark.functions import classify as cl
    from mini_etl_spark.functions.dedup_index import minhash_index_write
    from mini_etl_spark.functions.lm import train_bigram_lm

    root = tmp_path_factory.mktemp("models")
    train = spark.createDataFrame(ROWS, SCHEMA)
    cl.nb_save(cl.nb_train(train, label_col="source"), str(root / "nb"))
    train_bigram_lm(train).write.parquet(str(root / "lm"))
    train.select("v").write.parquet(str(root / "baseline"))
    minhash_index_write(
        spark.createDataFrame(
            [(99, "an unrelated seed document about river fishing trips")],
            "doc_id long, text string",
        ),
        str(root / "idx"), num_hashes=32, bands=8,
    )
    return root


def _snapshot_rows(spark, path):
    from mini_etl_spark.streaming import read_latest_snapshot

    return read_latest_snapshot(spark, path).count()


def _sink_cases():
    """sink name -> (start(stream, tmp, models, flags) -> query, rows
    landed)."""
    import mini_etl_spark.streaming as st
    from mini_etl_spark.streaming.events import stream_to_files

    def out(tmp):
        return str(tmp / "out")

    def cp(tmp):
        return str(tmp / "cp")

    return {
        "stream_upsert_to_parquet": (
            lambda s, t, m, f: st.stream_upsert_to_parquet(
                s, out(t), ["doc_id"], cp(t), **f),
            lambda spark, t: _snapshot_rows(spark, out(t)),
        ),
        "stream_dedup_against_index": (
            lambda s, t, m, f: st.stream_dedup_against_index(
                s, str(m / "idx"), out(t), cp(t), **f),
            lambda spark, t: spark.read.parquet(out(t)).count(),
        ),
        "stream_classify_gate": (
            lambda s, t, m, f: st.stream_classify_gate(
                s, str(m / "nb"), out(t), cp(t), keep_label="code", **f),
            lambda spark, t: spark.read.parquet(out(t)).count(),
        ),
        "stream_lm_update": (
            lambda s, t, m, f: st.stream_lm_update(s, out(t), cp(t), **f),
            lambda spark, t: _snapshot_rows(spark, out(t)),
        ),
        "stream_lm_gate": (
            lambda s, t, m, f: st.stream_lm_gate(
                s, str(m / "lm"), out(t), cp(t), max_perplexity=1e12, **f),
            lambda spark, t: spark.read.parquet(out(t)).count(),
        ),
        "stream_drift_gate": (
            lambda s, t, m, f: st.stream_drift_gate(
                s, str(m / "baseline"), out(t), cp(t), "v", max_psi=100.0, **f),
            lambda spark, t: spark.read.parquet(out(t)).count(),
        ),
        "stream_to_files": (
            lambda s, t, m, f: stream_to_files(s, out(t), cp(t), **f),
            lambda spark, t: spark.read.parquet(out(t)).count(),
        ),
        "stream_cm_update": (
            lambda s, t, m, f: st.stream_cm_update(s, out(t), cp(t), **f),
            lambda spark, t: _snapshot_rows(spark, out(t)),
        ),
        "stream_token_shards": (
            lambda s, t, m, f: st.stream_token_shards(
                s, out(t), cp(t), tokens_per_shard=8, **f),
            lambda spark, t: st.read_token_shards(spark, out(t)).count(),
        ),
        "stream_temperature_mix": (
            lambda s, t, m, f: st.stream_temperature_mix(
                s, out(t), cp(t), budget=4, **f),
            lambda spark, t: _snapshot_rows(spark, out(t)),
        ),
    }


@pytest.mark.parametrize("sink", sorted(_sink_cases()))
def test_sink_start_flags_return_an_active_query(spark, tmp_path, models,
                                                  sink):
    """``available_now=False, await_termination=False`` returns the query
    still running; ``processAllAvailable()`` lands the batch and
    ``stop()`` ends it cleanly — on every checkpointed sink."""
    start, landed = _sink_cases()[sink]
    src = tmp_path / "src"
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(str(src))
    query = start(_stream(spark, src), tmp_path, models,
                  {"available_now": False, "await_termination": False})
    try:
        assert query.isActive
        query.processAllAvailable()
        assert landed(spark, tmp_path) > 0
    finally:
        query.stop()
    assert not query.isActive
    assert query.exception() is None


def _trigger(query):
    """The JVM ``Trigger`` a started query runs on."""
    return query._jsq.streamingQuery().trigger()


def test_continuous_query_is_paced(spark, tmp_path):
    """A continuous query starts a micro-batch at most every 500 ms
    instead of back to back; an ``available_now`` query keeps the
    AvailableNow trigger."""
    from mini_etl_spark.streaming.events import stream_to_files

    src = tmp_path / "src"
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(str(src))
    query = stream_to_files(_stream(spark, src), str(tmp_path / "out"),
                            str(tmp_path / "cp"), available_now=False,
                            await_termination=False)
    try:
        trigger = _trigger(query)
        assert trigger.getClass().getSimpleName() == "ProcessingTimeTrigger"
        assert trigger.intervalMs() == 500
    finally:
        query.stop()

    query = stream_to_files(_stream(spark, src), str(tmp_path / "out2"),
                            str(tmp_path / "cp2"))
    assert not query.isActive
    assert _trigger(query).getClass().getSimpleName().startswith(
        "AvailableNowTrigger")


def test_continuous_file_sink_stop_mid_stream_restart_exactly_once(
        spark, tmp_path):
    """A continuous ``stream_to_files`` query stopped mid-stream and
    restarted on the same checkpoint lands every event id exactly once:
    batches the stop interrupted are redone, committed ones are not."""
    import time

    from mini_etl_spark.streaming.events import stream_to_files

    src, out, cp = tmp_path / "src", str(tmp_path / "out"), str(tmp_path / "cp")

    def add_files(lo, hi):
        for i in range(lo, hi):
            spark.range(i * 50, (i + 1) * 50).coalesce(1).write.parquet(
                str(src / f"f{i:02d}"))

    def start():
        stream = spark.readStream.schema("id bigint").option(
            "maxFilesPerTrigger", 1).parquet(f"{src}/*")
        return stream_to_files(stream, out, cp, available_now=False,
                               await_termination=False)

    add_files(0, 6)
    query = start()
    try:
        deadline = time.time() + 60
        while (time.time() < deadline and query.exception() is None
               and sum(p["numInputRows"] for p in query.recentProgress) < 100):
            time.sleep(0.05)
        landed = sum(p["numInputRows"] for p in query.recentProgress)
        assert 100 <= landed < 300, landed  # stopped with files pending
    finally:
        query.stop()
    assert query.exception() is None

    add_files(6, 9)
    query = start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert query.exception() is None
    ids = sorted(r.id for r in spark.read.parquet(out).collect())
    assert ids == list(range(9 * 50))
