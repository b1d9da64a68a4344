"""Round-7 hardening regressions — the VERDICT r6 task list and the five
ADVICE findings:

- transactional (manifest-committed) publish for stream_token_shards:
  a replayed batch leaves NO duplicate part files, read back exactly-once
  with read_token_shards and no read-time dedup (VERDICT #2)
- staging compaction + checkpoint-scoped staging for
  stream_temperature_mix: bounded directory count, snapshot unchanged by
  compaction (VERDICT #3, ADVICE seen_path)
- randomized kill-and-replay soak for both streaming twins (VERDICT #4)
- offset-state durability: atomic write, corrupt-file diagnosis,
  wildcard query-id degradation (ADVICE corpus.py x3)
- dedup_conversations keyless NULL-id rows: deterministic bypass, no
  monotonically_increasing_id in the plan (ADVICE conversations.py)
- to_excel sheet-limit guard: header-aware default, append-aware budget
  (ADVICE writers.py)
- config bpe_encode corpus-fit warning when unbounded (VERDICT #5)
"""

import hashlib
import json
import random

import pytest
from pyspark.sql import functions as F


def _file_stream(spark, src, schema, files_per_trigger=1):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(str(src / "*"))
    )


def _drop_commit(ckpt, n=None):
    """Simulate a crash before the checkpoint commit: remove the latest
    (or given) commit file AND its hadoop .crc sidecar."""
    commits = ckpt / "commits"
    if n is None:
        n = max(int(p.name) for p in commits.iterdir() if not p.name.startswith("."))
    (commits / str(n)).unlink()
    crc = commits / f".{n}.crc"
    if crc.exists():
        crc.unlink()


def _shard_oracle(batches, seed, tps):
    """Pure-python prefix-sum oracle: md5 layout within each batch,
    arrival order across batches, one global running total."""
    okey = lambda i: hashlib.md5(f"{seed}\x1f{i}".encode()).hexdigest()
    cum, want = 0, {}
    for batch in batches:
        for i, text in sorted(batch, key=lambda r: (okey(r[0]), r[0])):
            want[i] = cum // tps
            cum += len(text.split())
    return want


# ---------------------------------------------------------------------------
# stream_token_shards: manifest-committed exactly-once publish


def test_token_shards_replay_leaves_no_duplicates(spark, tmp_path):
    """Kill-and-replay: delete the checkpoint's last batch commit (the
    at-least-once window — state and output written, checkpoint commit
    lost) and restart. The replayed batch must OVERWRITE its own output
    directory; read_token_shards returns every row exactly once with no
    read-time dedup, and the assignment equals the batch oracle."""
    from mini_etl_spark.streaming import read_token_shards, stream_token_shards

    schema = "doc_id long, text string"
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    b1 = [(i, "tok " * (5 + i % 7)) for i in range(20)]
    b2 = [(100 + i, "tok " * (3 + i % 5)) for i in range(15)]
    tps = 37

    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    stream_token_shards(_file_stream(spark, src, schema), out, str(ckpt),
                        tokens_per_shard=tps, seed=42)
    # simulate a crash after the sink ran but before the checkpoint
    # committed batch 0 → the restart re-delivers batch 0
    _drop_commit(ckpt, 0)
    stream_token_shards(_file_stream(spark, src, schema), out, str(ckpt),
                        tokens_per_shard=tps, seed=42)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))
    stream_token_shards(_file_stream(spark, src, schema), out, str(ckpt),
                        tokens_per_shard=tps, seed=42)

    got = [(r.doc_id, r.shard) for r in read_token_shards(spark, out).collect()]
    assert len(got) == len(b1) + len(b2)          # exactly once, no dedup
    assert len(set(i for i, _ in got)) == len(got)
    assert dict(got) == _shard_oracle([b1, b2], 42, tps)


def test_token_shards_uncommitted_batch_invisible(spark, tmp_path):
    """A batch directory without a commit marker (crash between data
    write and marker publish) is invisible to read_token_shards; an
    empty/absent output returns None."""
    from mini_etl_spark.streaming import read_token_shards, stream_token_shards

    schema = "doc_id long, text string"
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    assert read_token_shards(spark, str(out)) is None

    spark.createDataFrame([(1, "a b c")], schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream_token_shards(_file_stream(spark, src, schema), str(out),
                        str(tmp_path / "ckpt"), tokens_per_shard=10)
    # fabricate a half-written batch: data dir exists, marker does not
    spark.createDataFrame([(99, "x y")], schema).write.parquet(
        str(out / "batch=7" / "shard=0")
    )
    got = read_token_shards(spark, str(out)).collect()
    assert [r.doc_id for r in got] == [1]

    with pytest.raises(ValueError, match="shard_col"):
        stream_token_shards(_file_stream(spark, src, schema), str(out),
                            str(tmp_path / "ckpt2"), shard_col="batch")


def test_offset_state_wildcard_and_corruption(spark, tmp_path):
    """ADVICE: (a) an empty query id on either side is a WILDCARD — a
    batch-id collision degrades to the conservative prev_offset replay
    path, never to double-counting; (b) a corrupt state file raises an
    explicit diagnosis naming the recovery procedure, not a raw
    JSONDecodeError; (c) _write_state publishes via tmp+rename and
    leaves no .tmp behind."""
    from mini_etl_spark.streaming.corpus import (
        _read_state,
        _resolve_offset,
        _write_state,
    )

    st = {"batch_id": 3, "prev_offset": 100, "offset": 150, "query_id": "q1"}
    assert _resolve_offset(st, 3, "") == 100      # current qid unreadable
    assert _resolve_offset(st, 4, "") == 150      # non-colliding id continues
    no_qid = {"batch_id": 3, "prev_offset": 100, "offset": 150, "query_id": ""}
    assert _resolve_offset(no_qid, 3, "q2") == 100  # stored qid empty

    p = tmp_path / "state.json"
    _write_state(spark, str(p), {"offset": 5})
    _write_state(spark, str(p), {"offset": 9})    # overwrite via rename
    assert _read_state(spark, str(p)) == {"offset": 9}
    assert not (tmp_path / "state.json.tmp").exists()
    # hadoop local fs writes a .crc sidecar; a stale one breaks the
    # direct write below, so clear siblings first
    for f in tmp_path.glob(".*crc"):
        f.unlink()
    p.write_text('{"offset": 9')                  # torn write
    with pytest.raises(ValueError, match="checkpoint AND the output"):
        _read_state(spark, str(p))


# ---------------------------------------------------------------------------
# stream_temperature_mix: checkpoint-scoped staging + bounded compaction


def test_temperature_mix_staging_under_checkpoint_and_compaction(spark, tmp_path):
    """Staging defaults under the checkpoint (wiping one wipes both);
    with compact_every=3 a 9-batch run keeps the per-batch directory
    count bounded and the final snapshot still equals the batch
    temperature_mix over the full input."""
    from mini_etl_spark.functions.mixing import temperature_mix
    from mini_etl_spark.streaming import read_latest_snapshot, stream_temperature_mix

    schema = "doc_id long, source string, text string"
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    rows = [(i, "web" if i % 8 else "code", f"doc {i}") for i in range(90)]
    for b in range(9):
        spark.createDataFrame(rows[b * 10:(b + 1) * 10], schema).coalesce(
            1
        ).write.parquet(str(src / f"f{b}"))

    stream_temperature_mix(_file_stream(spark, src, schema), out, str(ckpt),
                           budget=50, alpha=0.3, seed=7, compact_every=3)

    seen = ckpt / "_seen"
    assert seen.is_dir()                          # staging tied to checkpoint
    batch_dirs = [d for d in seen.iterdir() if d.name.startswith("batch=")]
    # compactions at batches 3 (upto 2) and 6 (upto 5): dirs 6,7,8 remain
    assert sorted(d.name for d in batch_dirs) == ["batch=6", "batch=7", "batch=8"]
    pointer = json.loads((seen / "_COMPACT.json").read_text())
    # compactions sealed two immutable segments: batches 0-2 and 3-5
    assert pointer["upto"] == 5
    assert [(lo, hi) for lo, hi, _ in pointer["segments"]] == [(0, 2), (3, 5)]
    assert (seen / "compact" / "seg-0-2").is_dir()
    assert (seen / "compact" / "seg-3-5").is_dir()

    snap = read_latest_snapshot(spark, out)
    got = sorted((r.doc_id, r.source, r.epoch) for r in snap.collect())
    want = sorted(
        (r.doc_id, r.source, r.epoch)
        for r in temperature_mix(
            spark.createDataFrame(rows, schema), 50, alpha=0.3, seed=7
        ).collect()
    )
    assert got == want and len(want) > 0

    with pytest.raises(ValueError, match="compact_every"):
        stream_temperature_mix(_file_stream(spark, src, schema), out,
                               str(tmp_path / "c2"), budget=5, compact_every=1)


def test_temperature_mix_replay_idempotent_through_compaction(spark, tmp_path):
    """Kill-and-replay ON a compaction batch: the replay re-runs the
    (idempotent) compaction and overwrites its own staging directory —
    no row is ever counted twice, and the snapshot equals the batch
    mixture."""
    from mini_etl_spark.functions.mixing import temperature_mix
    from mini_etl_spark.streaming import read_latest_snapshot, stream_temperature_mix

    schema = "doc_id long, source string, text string"
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    rows = [(i, "web" if i % 5 else "code", f"doc {i}") for i in range(50)]
    for b in range(5):
        spark.createDataFrame(rows[b * 10:(b + 1) * 10], schema).coalesce(
            1
        ).write.parquet(str(src / f"f{b}"))

    stream_temperature_mix(_file_stream(spark, src, schema), out, str(ckpt),
                           budget=30, alpha=0.4, seed=3, compact_every=2)
    # drop the final checkpoint commit → batch 4 replays on restart
    _drop_commit(ckpt)
    stream_temperature_mix(_file_stream(spark, src, schema), out, str(ckpt),
                           budget=30, alpha=0.4, seed=3, compact_every=2)

    snap = read_latest_snapshot(spark, out)
    got = sorted((r.doc_id, r.epoch) for r in snap.collect())
    want = sorted(
        (r.doc_id, r.epoch)
        for r in temperature_mix(
            spark.createDataFrame(rows, schema), 30, alpha=0.4, seed=3
        ).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# randomized kill-and-replay soak (VERDICT #4)


def test_token_shards_randomized_replay_soak(spark, tmp_path):
    """Seeded random soak: 6 micro-batches delivered one file per run,
    with a forced replay (deleted checkpoint commit) injected after a
    random subset of runs. Whatever the crash schedule, the final output
    is exactly-once and equals the prefix-sum oracle."""
    from mini_etl_spark.streaming import read_token_shards, stream_token_shards

    rng = random.Random(1307)
    schema = "doc_id long, text string"
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    tps = 29
    batches = []
    for b in range(6):
        rows = [(b * 100 + i, "tok " * rng.randint(2, 9)) for i in range(8)]
        batches.append(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{b}")
        )
        stream_token_shards(_file_stream(spark, src, schema), out, str(ckpt),
                            tokens_per_shard=tps, seed=11)
        if rng.random() < 0.5:  # crash before this batch's commit
            _drop_commit(ckpt)
            stream_token_shards(_file_stream(spark, src, schema), out,
                                str(ckpt), tokens_per_shard=tps, seed=11)

    got = [(r.doc_id, r.shard) for r in read_token_shards(spark, out).collect()]
    assert len(got) == sum(len(b) for b in batches)
    assert dict(got) == _shard_oracle(batches, 11, tps)


# ---------------------------------------------------------------------------
# dedup_conversations: deterministic keyless handling


def test_dedup_conversations_keyless_null_id_deterministic(spark):
    """Keyless NULL-id rows are all kept, bypassing the window — and the
    plan contains no nondeterministic synthetic id (the task-retry
    duplicate/drop hazard ADVICE flagged)."""
    from mini_etl_spark.functions.conversations import dedup_conversations

    rows = [
        (1, [{"role": "user", "content": "hi"}]),
        (2, [{"role": "user", "content": "hi"}]),     # dup of 1 → dropped
        (None, None),                                  # keyless NULL-id
        (None, None),                                  # kept too
        (7, None),                                     # keyless with id
    ]
    schema = (
        "conv_id int, messages array<struct<role string, content string>>"
    )
    df = spark.createDataFrame(rows, schema)
    out = dedup_conversations(df)
    assert out.count() == 4                            # only the dup dropped
    assert out.filter(F.col("conv_id").isNull()).count() == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "monotonically_increasing_id" not in plan


# ---------------------------------------------------------------------------
# to_excel guard


def test_to_excel_guard_append_aware(spark, tmp_path):
    """ADVICE: the driver guard accounts for the header row (default
    1,048,575) and, in append mode, for the rows already in the sheet."""
    import inspect

    from mini_etl_spark.sinks.writers import to_excel

    sig = inspect.signature(to_excel)
    assert sig.parameters["max_driver_rows"].default == 1_048_575

    path = str(tmp_path / "t.xlsx")
    df6 = spark.range(6).select(F.col("id").cast("long").alias("id"))
    to_excel(path, max_driver_rows=10)(df6)
    # append 5 rows: 6 existing + 5 = 11 > 10 → guard fires pre-buffer
    df5 = spark.range(100, 105).select(F.col("id").cast("long").alias("id"))
    with pytest.raises(ValueError, match="max_driver_rows"):
        to_excel(path, mode="a", max_driver_rows=10)(df5)
    # within budget appends fine
    df4 = spark.range(100, 104).select(F.col("id").cast("long").alias("id"))
    to_excel(path, mode="a", max_driver_rows=10)(df4)


# ---------------------------------------------------------------------------
# config bpe_encode unbounded-corpus-fit warning


def test_config_bpe_unbounded_warns(spark, tmp_path, caplog):
    """VERDICT #5: corpus-fit bpe_encode with neither min_count nor
    max_vocab logs the driver-path warning; bounded or merges_path
    configs stay quiet."""
    import logging

    from mini_etl_spark.config import ConfigLoader

    loader = ConfigLoader()

    def _cfg(opts):
        return {
            "name": "p",
            "source": {"type": "memory", "data": [], "schema": "x int"},
            "transformers": [{"type": "bpe_encode", **opts}],
            "sink": {"type": "null"},
        }

    with caplog.at_level(logging.WARNING, logger="mini_etl_spark.config"):
        loader.build_pipeline(loader.parse(_cfg({})))
    assert any("corpus-fit" in r.message for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="mini_etl_spark.config"):
        loader.build_pipeline(loader.parse(_cfg({"max_vocab": 100})))
        loader.build_pipeline(loader.parse(_cfg({"min_count": 2})))
    assert not any("corpus-fit" in r.message for r in caplog.records)


# ---------------------------------------------------------------------------
# review follow-ups (round-7 diff review)


def test_token_shards_guards_batch_column_and_legacy_layout(spark, tmp_path):
    """(a) an input column named 'batch' would be shadowed by the
    per-batch publish partition dir and destroyed on read — rejected up
    front; (b) output holding the pre-manifest flat shard=K layout is
    refused instead of silently continued (pre-upgrade rows would be
    invisible to read_token_shards)."""
    from mini_etl_spark.streaming import stream_token_shards

    schema = "doc_id long, text string, batch int"
    src = tmp_path / "src"
    src.mkdir()
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    with pytest.raises(ValueError, match="batch"):
        stream_token_shards(stream, str(tmp_path / "o"), str(tmp_path / "c"))

    # legacy layout: flat shard=K at the output root, no _commits
    out = tmp_path / "legacy_out"
    spark.createDataFrame([(1, "a b")], "doc_id long, text string") \
        .withColumn("shard", F.lit(0)).write.partitionBy("shard") \
        .parquet(str(out))
    schema2 = "doc_id long, text string"
    spark.createDataFrame([(2, "c d")], schema2).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream2 = (spark.readStream.schema(schema2)
               .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    with pytest.raises(Exception, match="legacy flat shard layout"):
        stream_token_shards(stream2, str(out), str(tmp_path / "c2"))


def test_token_shards_empty_batch_publishes_nothing(spark, tmp_path):
    """A fully-empty micro-batch publishes no directory and no commit
    marker (a zero-row partitioned write leaves a dataless dir that
    breaks schema inference); the offset state still records the batch;
    a following non-empty batch continues at the same offset."""
    from mini_etl_spark.streaming import read_token_shards, stream_token_shards

    schema = "doc_id long, text string"
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    empty = spark.createDataFrame([], schema)
    empty.coalesce(1).write.parquet(str(src / "b0"))
    stream = lambda: (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    stream_token_shards(stream(), str(out), str(ckpt), tokens_per_shard=10)
    assert read_token_shards(spark, str(out)) is None
    assert not (out / "batch=0").exists()
    state = json.loads((ckpt / "_token_offset.json").read_text())
    assert state["offset"] == 0 and state["batch_id"] == 0

    spark.createDataFrame([(1, "a b c")], schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream_token_shards(stream(), str(out), str(ckpt), tokens_per_shard=10)
    got = read_token_shards(spark, str(out)).collect()
    assert [(r.doc_id, r.shard) for r in got] == [(1, 0)]


def test_temperature_mix_legacy_seen_guard(spark, tmp_path):
    """Resuming with the old <out_path>_seen staging present and no
    explicit seen_path raises instead of silently dropping the staged
    corpus from every future snapshot."""
    from mini_etl_spark.streaming import stream_temperature_mix

    schema = "doc_id long, source string, text string"
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "mix")
    legacy = tmp_path / "mix_seen"
    legacy.mkdir()
    (legacy / "batch=0").mkdir()
    spark.createDataFrame([(1, "web", "doc")], schema).coalesce(1) \
        .write.parquet(str(src / "b1"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    with pytest.raises(Exception, match="legacy staging"):
        stream_temperature_mix(stream, out, str(tmp_path / "ckpt"), budget=5)


def test_dedup_conversations_single_scan(spark):
    """The keyless-NULL-id handling must not split the plan into a
    two-scan union: one scan, one window shuffle."""
    from mini_etl_spark.functions.conversations import dedup_conversations

    df = spark.createDataFrame(
        [(1, [{"role": "user", "content": "hi"}]), (None, None)],
        "conv_id int, messages array<struct<role string, content string>>",
    )
    out = dedup_conversations(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert out.count() == 2


def test_temperature_mix_randomized_replay_soak(spark, tmp_path):
    """Seeded random soak for the second streaming twin: 8 micro-batches
    delivered one file per run with compact_every=3, a forced replay
    (deleted checkpoint commit) injected after a random subset of runs —
    including possibly ON compaction batches. Whatever the crash
    schedule, the drained snapshot equals the batch temperature_mix over
    the full input and the staging stays bounded."""
    from mini_etl_spark.functions.mixing import temperature_mix
    from mini_etl_spark.streaming import read_latest_snapshot, stream_temperature_mix

    rng = random.Random(4219)
    schema = "doc_id long, source string, text string"
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    rows = [(i, ("web", "code", "wiki")[i % 3], f"doc {i}") for i in range(80)]
    for b in range(8):
        spark.createDataFrame(rows[b * 10:(b + 1) * 10], schema).coalesce(
            1
        ).write.parquet(str(src / f"f{b}"))
        stream_temperature_mix(_file_stream(spark, src, schema), out, str(ckpt),
                               budget=45, alpha=0.4, seed=9, compact_every=3)
        if rng.random() < 0.5:  # crash before this batch's commit
            _drop_commit(ckpt)
            stream_temperature_mix(_file_stream(spark, src, schema), out,
                                   str(ckpt), budget=45, alpha=0.4, seed=9,
                                   compact_every=3)

    snap = read_latest_snapshot(spark, out)
    got = sorted((r.doc_id, r.source, r.epoch) for r in snap.collect())
    want = sorted(
        (r.doc_id, r.source, r.epoch)
        for r in temperature_mix(
            spark.createDataFrame(rows, schema), 45, alpha=0.4, seed=9
        ).collect()
    )
    assert got == want and len(want) > 0
    seen = ckpt / "_seen"
    n_batch_dirs = sum(1 for d in seen.iterdir() if d.name.startswith("batch="))
    assert n_batch_dirs <= 3  # bounded by compact_every


def test_temperature_mix_flat_legacy_staging_refused(spark, tmp_path):
    """An explicitly passed seen_path holding FLAT part files (the
    oldest staging layout, appended directly at the root) is refused:
    the batch-directory read rule would silently skip those rows."""
    from mini_etl_spark.streaming import stream_temperature_mix

    schema = "doc_id long, source string, text string"
    src = tmp_path / "src"
    src.mkdir()
    seen = tmp_path / "legacy_seen"
    spark.createDataFrame([(9, "web", "old doc")], schema).coalesce(1) \
        .write.parquet(str(seen))  # flat part-*.parquet at the root
    spark.createDataFrame([(1, "web", "doc")], schema).coalesce(1) \
        .write.parquet(str(src / "b1"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    with pytest.raises(Exception, match="pre-batch layout"):
        stream_temperature_mix(stream, str(tmp_path / "out"),
                               str(tmp_path / "ckpt"), budget=5,
                               seen_path=str(seen))


def test_auto_frequency_cap_candidate_volume_budget(spark):
    """auto_frequency_cap(max_candidate_volume=...) lowers the cap to
    the largest value whose surviving Σf² fits the budget — the hard
    work bound for inverted-index joins whose distribution has many
    just-under-cap keys (the 20× set_jaccard finding)."""
    from mini_etl_spark.operators.skew import auto_frequency_cap

    # 1000 keys at f=2 (Σf²=4000) + 20 keys at f=50 (adds 50_000)
    rows = [(f"lo{i}", 2) for i in range(1000)] + [
        (f"hi{i}", 50) for i in range(20)
    ]
    freq = spark.createDataFrame(rows, "k string, __f long")
    # no budget: quantile rule keeps everything (cap >= 50)
    assert auto_frequency_cap(freq, floor=1) >= 50
    # budget excludes the f=50 tier but keeps the f=2 tier
    assert auto_frequency_cap(freq, floor=1, max_candidate_volume=10_000) == 2
    # budget large enough for everything: quantile rule unchanged
    assert auto_frequency_cap(
        freq, floor=1, max_candidate_volume=10_000_000
    ) >= 50
    # unmeetable budget: floor wins (scale guard, not correctness knob)
    assert auto_frequency_cap(freq, floor=7, max_candidate_volume=1) == 7
    with pytest.raises(ValueError, match="max_candidate_volume"):
        auto_frequency_cap(freq, max_candidate_volume=0)


def test_jaccard_pairs_auto_budget_cap(spark):
    """The "auto:<budget>" cap string flows through the pair-join guard:
    with a tight candidate budget the boilerplate tier is cut and the
    planted near-dup pairs still surface; a malformed budget raises."""
    from mini_etl_spark.functions.dedup import jaccard_pairs

    boiler = "shared boilerplate sentence appearing in every document here"
    rows = []
    for i in range(200):
        uniq = " ".join(f"w{i}x{j}" for j in range(20))
        rows.append((i, f"{uniq} {boiler}"))
    rows.append((1000, rows[3][1]))  # exact dup of 3
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r.id_a, r.id_b)
           for r in jaccard_pairs(df, threshold=0.5,
                                  max_shingle_freq="auto:200000").collect()}
    assert (3, 1000) in got
    with pytest.raises(ValueError, match="budget must be numeric"):
        jaccard_pairs(df, max_shingle_freq="auto:abc").count()
