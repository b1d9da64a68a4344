"""State files (mini_etl_spark/statefile.py): the one protocol every
marker the engine persists goes through — Hadoop FileSystem I/O,
tmp+rename publish, ``.bak`` recovery.

The URI round trip writes each marker kind to a ``file://`` target from
one working directory and reads it back from another: a marker written
through builtin ``open`` (or ``tempfile``/``os.replace``) lands in a stray
``./file:/…`` tree under the writer's directory and is missing for the
reader.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

_DOCS = "doc_id long, text string"


def test_state_backup_recovery(spark, tmp_path):
    """A crash inside the no-overwrite rename fallback leaves only the
    .bak sibling; _read_state recovers the pre-update doc from it rather
    than returning {} (the silent offset-reset-to-0 direction). After a
    successful publish no .bak survives."""
    from mini_etl_spark.streaming.corpus import _read_state, _write_state

    p = tmp_path / "st.json"
    (tmp_path / "st.json.bak").write_text('{"offset": 42}')
    assert _read_state(spark, str(p)) == {"offset": 42}

    _write_state(spark, str(p), {"offset": 50})
    assert not (tmp_path / "st.json.bak").exists()
    assert _read_state(spark, str(p)) == {"offset": 50}


# Each case writes under ``uri`` and returns the read-back check, which
# runs from a different working directory.


def _minhash(spark, uri):
    from mini_etl_spark.functions import dedup_index as di

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "lorem ipsum dolor sit amet consectetur")], _DOCS)
    di.minhash_index_write(corpus, uri)

    def read():
        batch = spark.createDataFrame(
            [(3, "an entirely different sentence about parquet files")], _DOCS)
        assert di.minhash_index_append(batch, uri) == 1
        probe = spark.createDataFrame(
            [(9, "the quick brown fox jumps over the lazy dog"),
             (10, "nothing like anything indexed so far at all")], _DOCS)
        kept = di.minhash_index_filter(probe, uri, max_bucket_freq=None,
                                      in_batch=False)
        assert [r.doc_id for r in kept.collect()] == [10]
    return read


def _watermark(spark, uri):
    from mini_etl_spark.incremental import IncrementalBatch, load_watermark

    spark.range(10).withColumnRenamed("id", "seq").write.parquet(f"{uri}/src")
    inc = IncrementalBatch(f"{uri}/wm.json", cursor_col="seq")
    inc.filter_new(spark.read.parquet(f"{uri}/src")).count()
    inc.commit()

    def read():
        assert load_watermark(f"{uri}/wm.json") == 9
    return read


def _manifest(spark, uri):
    from mini_etl_spark.sinks.shards import read_shard_manifest, to_training_shards

    to_training_shards(uri, num_shards=2)(
        spark.createDataFrame([(i, f"doc {i}") for i in range(6)], _DOCS))

    def read():
        assert read_shard_manifest(uri)["total_rows"] == 6
    return read


def _dag_checkpoint(spark, uri):
    from mini_etl_spark.dag import PipelineDAG

    def run(values):
        rows: list = []
        stats = (
            PipelineDAG("statefile_ckpt", spark=spark)
            .add_source("src", lambda s: s.createDataFrame(
                [(v,) for v in values], "v long"))
            .add_checkpoint("stage", path=f"{uri}/stage")
            .add_sink("out", lambda df: rows.extend(r.v for r in df.collect()))
            .add_edge("src", "stage").add_edge("stage", "out")
            .run(spark)
        )
        return stats, sorted(rows)

    assert run([1, 2])[0]["checkpoints_materialized"] == ["stage"]

    def read():
        stats, rows = run([1, 2])
        assert stats["checkpoints_restored"] == ["stage"] and rows == [1, 2]
    return read


def _bloom(spark, uri):
    from mini_etl_spark.functions import bloom as bl

    bench = spark.createDataFrame([(1, "alpha beta gamma delta epsilon")], _DOCS)
    bl.decontamination_index_write(bench, uri, n=3)

    def read():
        batch = spark.createDataFrame(
            [(5, "alpha beta gamma"), (6, "zeta eta theta")], _DOCS)
        kept = bl.bloom_decontaminate_indexed(batch, uri)
        assert [r.doc_id for r in kept.collect()] == [6]
    return read


def _ivf(spark, uri):
    import numpy as np

    from mini_etl_spark.functions import similarity as sim

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id bigint, embedding array<float>")
    sim.build_ivf_index(vecs, uri, centroids=np.array([[1.0, 0.0], [0.0, 1.0]]))

    def read():
        top = sim.ivf_topk_indexed(spark, uri, [1.0, 0.0], k=1, nprobe=1)
        assert [r.vec_id for r in top.collect()] == [1]
    return read


def _jaccard(spark, uri):
    from mini_etl_spark.functions import jaccard_index as ji

    ji.jaccard_index_write(
        spark.createDataFrame([(1, "a b c d e f g")], _DOCS), uri)

    def read():
        batch = spark.createDataFrame([(7, "a b c d e f g"), (8, "x y z w")], _DOCS)
        kept = ji.jaccard_index_filter(batch, uri, in_batch=False)
        assert [r.doc_id for r in kept.collect()] == [8]
    return read


_CASES = {
    "minhash_index": _minhash,
    "watermark": _watermark,
    "shard_manifest": _manifest,
    "dag_checkpoint": _dag_checkpoint,
    "bloom_index": _bloom,
    "ivf_index": _ivf,
    "jaccard_index": _jaccard,
}


@pytest.mark.parametrize("kind", sorted(_CASES))
def test_marker_uri_round_trip(spark, tmp_path, monkeypatch, kind):
    writer, reader = tmp_path / "writer", tmp_path / "reader"
    writer.mkdir()
    reader.mkdir()
    uri = (tmp_path / "target").as_uri()
    monkeypatch.chdir(writer)
    read = _CASES[kind](spark, uri)
    monkeypatch.chdir(reader)
    read()
    assert not list(writer.glob("file:*"))


def test_statefile_is_the_only_hadoop_fs_owner():
    """One owner for the state-file protocol: only mini_etl_spark/
    statefile.py builds Hadoop FS paths, and no module outside streaming/
    reaches into mini_etl_spark.streaming for its helpers."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "mini_etl_spark"
    helpers = {"_read_state", "_write_state", "_state_io"}
    hadoop, reaching = [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        src = path.read_text()
        if "org.apache.hadoop.fs.Path" in src and rel != "statefile.py":
            hadoop.append(rel)
        if rel.startswith("streaming/"):
            continue
        reaching += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(ast.parse(src))
            if isinstance(node, ast.ImportFrom)
            and (node.module or "").startswith("mini_etl_spark.streaming")
            and helpers & {a.name for a in node.names}
        ]
    assert hadoop == []
    assert reaching == []
