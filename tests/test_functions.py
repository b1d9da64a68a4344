"""Tests for the scale extensions (functions/): text analysis, dedup family,
similarity search, multimodal plumbing.

The exact operators are oracle-checked in test_oracle.py; here we test
(a) golden semantics on tiny hand-built frames, and (b) the *approximate*
operators differentially against their exact counterparts — LSH(verify)
must equal exact Jaccard; ANN recall must be high on planted clusters.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mini_etl_spark import plans
from mini_etl_spark.functions import dedup as dd
from mini_etl_spark.functions import multimodal as mm
from mini_etl_spark.functions import similarity as sim
from mini_etl_spark.functions import text as tx

from tests.conftest import SF_ORACLE, record_dataframe_calls


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


# -- text ---------------------------------------------------------------------

def test_tokens_and_counts(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["Hello, World! the and 42nd", "", "  ", "one"]}))
    out = df.select(
        tx.tokens("text").alias("toks"),
        tx.whitespace_token_count("text").alias("ws"),
        tx.regex_token_count("text").alias("bpe"),
    ).collect()
    assert out[0].toks == ["hello", "world", "the", "and", "42nd"]
    assert out[0].ws == 5
    assert out[0].bpe == 8  # Hello , World ! the and 42 nd
    assert out[1].ws == 0 and out[2].ws == 0
    assert out[3].toks == ["one"]


def test_language_id_golden(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "text": [
                    "the cat and the dog is in that house",
                    "der hund und die katze ist nicht auf",
                    "le chat est dans la maison pour que",
                    "el perro es una mascota del vecino para",
                    "zzz qqq xxx",
                ]
            }
        )
    )
    out = [r.lang for r in df.select(tx.language_id("text").alias("lang")).collect()]
    assert out == ["en", "de", "fr", "es", "unknown"]


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["alpha beta gamma", "gamma beta alpha beta", "alpha beta delta"]})
    )
    fps = [r.fp for r in df.select(tx.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]      # same token set → same fingerprint
    assert fps[0] != fps[2]


def test_shingles_short_doc_guard(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["one two", "a b c d"]}))
    out = [r.sh for r in df.select(tx.shingles("text", 3).alias("sh")).collect()]
    assert out[0] == []
    assert out[1] == ["a b c", "b c d"]


def test_quality_bounds(spark, docs):
    stats = docs.select(
        F.min(tx.quality_score("text")).alias("lo"),
        F.max(tx.quality_score("text")).alias("hi"),
    ).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0


# -- dedup --------------------------------------------------------------------

def test_exact_dedup_golden(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["a b c", "c b a", "a b c!", "totally different words"],
            }
        )
    )
    out = dd.exact_dedup(df).collect()
    groups = {r.doc_id: r.dup_count for r in out}
    assert groups == {1: 3, 4: 1}  # docs 1,2,3 share the token set {a,b,c}


def test_jaccard_pairs_golden(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "w1 w2 w3 w4 w5",        # shingles: {123,234,345}
                    "w1 w2 w3 w4 w9",        # shingles: {123,234,349'}
                    "x y z q r s",
                ],
            }
        )
    )
    pairs = dd.jaccard_pairs(df, threshold=0.4).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.id_a, p.id_b, p.jaccard) == (1, 2, 0.5)  # 2 shared / 4 union


def test_contamination_containment_not_jaccard(spark):
    # The eval doc is quoted verbatim inside a much longer train doc:
    # containment = 1.0 even though Jaccard is small — the property that
    # makes containment the right decontamination measure.
    filler = " ".join(f"f{i}" for i in range(40))
    train = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [f"{filler} w1 w2 w3 w4 w5", filler]})
    )
    test = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100, 101], "text": ["w1 w2 w3 w4 w5", "a b c d e"]})
    )
    out = {
        (r.test_id, r.train_id): r.overlap
        for r in dd.contamination_pairs(train, test, threshold=0.5).collect()
    }
    assert out == {(100, 1): 1.0}  # doc 101 is clean; doc 2 shares nothing
    jac = dd.jaccard_pairs(
        train.unionByName(test), threshold=0.5
    ).filter("id_a = 1 and id_b = 100")
    assert jac.count() == 0  # Jaccard at the same threshold misses the quote


def test_decontaminate_drops_leaky_train_docs(spark):
    train = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": ["w1 w2 w3 w4 w5 tail tokens here", "p q r s t"]}
        )
    )
    test = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": ["w1 w2 w3 w4 w5"]})
    )
    kept = sorted(
        r.doc_id for r in dd.decontaminate(train, test, threshold=0.5).collect()
    )
    assert kept == [2]
    # schema is the full train schema, untouched
    assert dd.decontaminate(train, test).columns == train.columns


def test_minhash_lsh_equals_exact(spark, docs):
    exact = {(r.id_a, r.id_b) for r in dd.jaccard_pairs(docs, threshold=0.5).collect()}
    approx = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_pairs(docs, threshold=0.5, num_hashes=64, bands=16).collect()
    }
    assert approx == exact  # verify-mode precision 1.0; recall 1.0 on this table


def test_minhash_bands_must_divide():
    with pytest.raises(ValueError):
        dd.minhash_lsh_pairs(None, num_hashes=64, bands=7)


def test_simhash_near_dups_collide(spark):
    # identical token sequences → identical simhash; disjoint → different
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["a b c d e f g h", "a b c d e f g h", "q r s t u v w x"],
            }
        )
    )
    out = dd.simhash_dedup(df).collect()
    assert len(out) == 2
    counts = sorted(r.dup_count for r in out)
    assert counts == [1, 2]


def test_connected_components_path_graph(spark):
    """A 6-node path (diameter 5) forces several propagation rounds; a
    disjoint 2-cycle and an untouched pair check component separation."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    comp = {r.node: r.component for r in dd.connected_components(pairs).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
        10: 10, 11: 10,
        20: 20, 21: 20,
    }


def test_connected_components_star_parity(spark):
    """algorithm='star' (large-star/small-star contraction) must produce
    the identical (node, component) map as the default label propagation
    on seeded random graphs and on the known path/cycle fixture."""
    import random

    fixture = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (20, 21)]
    rng = random.Random(17)
    randoms = [
        [
            (rng.randrange(60), rng.randrange(60))
            for _ in range(n_edges)
        ]
        for n_edges in (15, 40, 90)
    ]
    for edge_list in [fixture] + randoms:
        edge_list = [(a, b) for a, b in edge_list if a != b] or [(0, 1)]
        pairs = spark.createDataFrame(edge_list, "id_a bigint, id_b bigint")
        label = {
            r.node: r.component for r in dd.connected_components(pairs).collect()
        }
        star = {
            r.node: r.component
            for r in dd.connected_components(pairs, algorithm="star").collect()
        }
        assert star == label


def test_connected_components_star_chain_logn_rounds(spark):
    """The adversarial case the star mode exists for: a 256-node path has
    diameter 255 (label mode would need ~255 rounds) but the alternating
    star contraction must finish in O(log n) rounds."""
    from mini_etl_spark.functions.dedup import _star_components

    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    labels, rounds = _star_components(pairs, "id_a", "id_b", max_iter=30)
    got = {r.node: r.component for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 12  # ~log2(256)=8 plus slack, far below diameter 255

    with pytest.raises(ValueError):
        dd.connected_components(pairs, algorithm="bfs")


def test_connected_components_rounds_broadcast_unhinted(spark, tmp_path):
    """The per-round label state is a localCheckpoint frame that keeps its
    size estimate, so over a parquet-backed pair list the planner
    broadcasts it on its own: every round's two joins ran as
    BroadcastHashJoin, and no round sort-merged the edge list."""
    spark.createDataFrame(
        [(i, i + 1) for i in range(0, 60, 2)] + [(0, 2), (4, 8)],
        "id_a bigint, id_b bigint",
    ).write.parquet(str(tmp_path / "pairs"))
    pairs = spark.read.parquet(str(tmp_path / "pairs"))
    before = plans.last_execution_id(spark)
    dd.connected_components(pairs).collect()
    checkpoints = [
        joins
        for _, desc, joins in plans.executed_joins(spark, before)
        if desc.startswith("localCheckpoint")
    ]
    # the first checkpoint seeds the labels (no join); then one per round
    assert checkpoints[0] == [] and len(checkpoints) >= 3, checkpoints
    for joins in checkpoints[1:]:
        assert joins == ["BroadcastHashJoin", "BroadcastHashJoin"], checkpoints


def test_connected_components_counts_once_per_round(spark, monkeypatch):
    """Label propagation runs one convergence count per round and no
    other count job (no node count sizing a broadcast decision)."""
    counts = record_dataframe_calls(monkeypatch, "count")
    checkpoints = record_dataframe_calls(monkeypatch, "localCheckpoint")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "id_a bigint, id_b bigint",
    )
    dd.connected_components(pairs).collect()
    # the first checkpoint seeds the labels; then one per round
    rounds = len(checkpoints) - 1
    assert rounds >= 2
    assert len(counts) == rounds


def test_drop_near_duplicates_keeps_representatives(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a bigint, id_b bigint"
    )
    kept = sorted(r.doc_id for r in dd.drop_near_duplicates(df, pairs).collect())
    # components {0,3,5} -> keep 0; {1,2} -> keep 1; singletons 4,6,7 kept
    assert kept == [0, 1, 4, 6, 7]


def test_drop_near_duplicates_keep_by_quality(spark):
    df = spark.createDataFrame(
        [(0, 0.2), (3, 0.9), (5, 0.9), (1, 0.1), (2, 0.1), (4, 0.5)],
        "doc_id bigint, quality double",
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a bigint, id_b bigint"
    )
    kept = sorted(
        r.doc_id
        for r in dd.drop_near_duplicates(df, pairs, keep_by="quality").collect()
    )
    # {0,3,5}: 3 and 5 tie on quality 0.9 → lowest id 3 wins (not min-id 0);
    # {1,2}: tie at 0.1 → 1; singleton 4 kept
    assert kept == [1, 3, 4]


def test_connected_components_equals_union_find(spark, docs):
    """Engine components over the real documents' Jaccard pairs must equal
    a driver-side union-find ground truth."""
    pairs = dd.jaccard_pairs(docs, threshold=0.5)
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {n: find(n) for n in parent}
    got = {r.node: r.component for r in dd.connected_components(pairs).collect()}
    assert got == truth


def test_clean_corpus_stages(spark):
    """Each hygiene stage must bite: low quality out, wrong language out,
    exact dupes collapse to min id, near-dupes collapse to one rep."""
    from mini_etl_spark.functions.corpus import clean_corpus

    good = (
        "the cat sat on the mat and the dog sat on the log while the sun "
        "was high and the wind was low for hours that day in the field"
    )
    near = good.replace("dog", "fox")  # high Jaccard overlap with `good`
    rows = [
        (1, good),                      # kept (representative)
        (2, good),                      # exact dup of 1 -> dropped
        (3, near),                      # near dup of 1 -> dropped
        (4, "12345 67890 11 22 33"),    # digits-only -> low quality
        (5, "der hund ist auf und die katze ist nicht mit dem ball auf"),  # de
        (6, "the quick brown fox jumps over the lazy dog and that is for "
            "the birds to see in the morning with the others"),  # kept
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kept = sorted(r.doc_id for r in clean_corpus(df).collect())
    assert kept == [1, 6]


def test_simhash_pairs_equals_bruteforce(spark, docs):
    """Pigeonhole banding must find EXACTLY the pairs a brute-force
    popcount theta-join finds at hamming ≤ 3 (recall 1.0 by construction,
    precision 1.0 by verification) — on the real documents table."""
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in dd.simhash_pairs(docs, max_hamming=3).collect()
    }
    sh = dd._simhash_frame(docs, "text", "doc_id", 3)
    a = sh.select(F.col("__id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("simhash").alias("hb"))
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int"))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute


def test_simhash_pairs_zero_hamming_matches_dedup(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "a b c d e f g h",
                    "a b c d e f g h",
                    "q r s t u v w x",
                    "a b c d e f g h",
                ],
            }
        )
    )
    pairs = {(r.id_a, r.id_b) for r in dd.simhash_pairs(df, max_hamming=0).collect()}
    assert pairs == {(1, 2), (1, 4), (2, 4)}


def test_embedding_cosine_pairs_golden(spark):
    import warnings

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # no size-guard reroute to LSH
        out = dd.embedding_cosine_pairs(df, threshold=0.95)
    assert plans.signature(out)["MapInArrow"]  # the block-GEMM path
    pairs = out.collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].cosine > 0.99


def test_embedding_cosine_pairs_gemm_admits_nan_and_overflow_pairs(spark):
    """The GEMM prefilter must admit every pair the exact rescore keeps: a
    NaN element makes the exact cosine NaN, which passes ``>=``, and so
    does the overflow-range pair (the JVM's sequential dot adds
    ``-1e308 + inf``). The exact per-pair plan keeps 7 pairs here."""
    nan = float("nan")
    df = spark.createDataFrame(
        [
            (1, [1.0, nan, 0.0]),
            (2, [1e154, 1.5e154, 0.0]),
            (3, [-1e154, 1.5e154, 0.0]),
            (4, [1.0, 0.0, 0.0]),
            (5, [0.999, 0.01, 0.0]),
            (6, [0.0, 0.0, 1.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    got = dd.embedding_cosine_pairs(df, threshold=0.9).collect()
    assert sorted((p.id_a, p.id_b) for p in got) == [
        (1, 2), (1, 3), (1, 4), (1, 5), (1, 6), (2, 3), (4, 5)
    ]


# -- similarity ---------------------------------------------------------------

def test_cosine_topk_exact(spark, emb):
    q = emb.filter("vec_id = 0").first().embedding
    top = sim.cosine_topk(emb, q, k=5).collect()
    assert top[0].vec_id == 0 and top[0].cosine == 1.0
    cosines = [r.cosine for r in top]
    assert cosines == sorted(cosines, reverse=True)


def test_lsh_recall_on_planted_clusters(spark):
    # plant 10 clusters of 20 near-identical vectors; ANN must find
    # same-cluster vectors for a cluster-member query
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((10, 32))
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(20):
            v = c + rng.standard_normal(32) * 0.01
            rows.append((vid, ci, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, cluster int, embedding array<float>")
    query = [float(x) for x in centers[3]]
    exact = {r.vec_id for r in sim.cosine_topk(df, query, k=10).collect()}
    approx = {r.vec_id for r in sim.lsh_topk(df, query, k=10, num_planes=8).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.9


def test_duplicate_span_pairs_semantics(spark):
    """Hand-built corpus pins the span/run arithmetic: a 5-token shared
    passage yields 3 chained width-3 spans (run 3+2=5 tokens); two
    disjoint shared trigrams land on different diagonals (run stays 3);
    in-doc repetition of a span counts once."""
    from mini_etl_spark.functions import dedup as dd

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),
            (1, "x y c d e f g z"),
            (2, "c d e q1 q2 q3 e f g"),
            (3, "c d e c d e c d e"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        (r.id_a, r.id_b): (r.n_spans, r.longest_run)
        for r in dd.duplicate_span_pairs(docs, width=3).collect()
    }
    # d0~d1 share "c d e f g": spans cde, def, efg chained on one diagonal
    assert out[(0, 1)] == (3, 5)
    # d0~d2 share cde and efg at incompatible offsets: two 1-span islands
    assert out[(0, 2)] == (2, 3)
    # d0~d3: only cde (d3's repeats collapse to first occurrence)
    assert out[(0, 3)] == (1, 3)
    # min_spans filters the 1-span pairs
    kept = {
        (r.id_a, r.id_b)
        for r in dd.duplicate_span_pairs(docs, width=3, min_spans=2).collect()
    }
    assert (0, 3) not in kept and (0, 1) in kept
    with pytest.raises(ValueError):
        dd.duplicate_span_pairs(docs, width=1)


def test_remove_duplicate_spans(spark):
    """The excision twin of duplicate_span_pairs: the earliest doc keeps
    its text; later docs lose exactly the aligned duplicated ranges;
    min_run bounds how short an excised passage may be."""
    from mini_etl_spark.functions import dedup as dd

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),
            (1, "x y c d e f g z"),
            (2, "c d e q1 q2 q3 e f g"),
            (3, "p q r c d e s t"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.clean_text, r.n_removed_tokens)
        for r in dd.remove_duplicate_spans(docs, width=3).collect()
    }
    assert out[0] == ("a b c d e f g h", 0)  # earliest occurrence intact
    assert out[1] == ("x y z", 5)            # "c d e f g" excised
    assert out[2] == ("q1 q2 q3", 6)         # two disjoint ranges excised
    assert out[3] == ("p q r s t", 3)        # single trigram excised
    # min_run=5: d3's 3-token island is below the bar and survives
    out5 = {
        r.doc_id: (r.clean_text, r.n_removed_tokens)
        for r in dd.remove_duplicate_spans(docs, width=3, min_run=5).collect()
    }
    assert out5[3] == ("p q r c d e s t", 0)
    assert out5[1] == ("x y z", 5)
    with pytest.raises(ValueError):
        dd.remove_duplicate_spans(docs, width=3, min_run=2)


def test_knn_join_recall_and_shape(spark):
    """The batched ANN join must recover same-cluster neighbors: for every
    cluster-member query, its top-5 exact neighbors live in the same tight
    cluster, and with k-means-quality cells (here: one planted cluster per
    centroid by construction) the cell-scoped join reaches them. Recall
    measured against the exact per-query scan."""
    rng = np.random.default_rng(13)
    centers = rng.standard_normal((8, 32))
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(25):
            v = c + rng.standard_normal(32) * 0.01
            rows.append((vid, ci, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id bigint, cluster int, embedding array<float>"
    )
    cents = (centers / np.linalg.norm(centers, axis=1, keepdims=True))
    queries = df.filter(F.col("vec_id") % 50 == 0)  # one per other cluster
    out = sim.knn_join(
        queries, df, cents, k=5, nprobe=1, exclude_self=True, method="expr"
    ).toPandas()
    # shape: exactly 5 ranked neighbors per query, ranks 1..5
    per_q = out.groupby("query_id")["rank"].agg(["count", "min", "max"])
    assert (per_q["count"] == 5).all()
    assert (per_q["min"] == 1).all() and (per_q["max"] == 5).all()
    assert (out["query_id"] != out["corpus_id"]).all()
    # recall vs exact scan, per query
    hits = tot = 0
    for qid in per_q.index:
        qvec = [float(x) for x in rows[int(qid)][2]]
        exact = {
            r.vec_id
            for r in sim.cosine_topk(df, qvec, k=6).collect()
            if r.vec_id != qid
        }
        approx = set(out[out["query_id"] == qid]["corpus_id"])
        hits += len(exact & approx)
        tot += 5
    assert hits / tot >= 0.9
    # nprobe=2 may only add candidates (monotone recall), never break shape
    out2 = sim.knn_join(
        queries, df, cents, k=5, nprobe=2, exclude_self=True, method="expr"
    ).toPandas()
    assert (out2.groupby("query_id")["rank"].count() == 5).all()
    # arrow path (BLAS matmul kernels) reproduces the expr path's ranking
    arrow = sim.knn_join(
        queries, df, cents, k=5, nprobe=2, exclude_self=True, method="arrow"
    ).toPandas()
    key = ["query_id", "corpus_id", "rank"]
    assert set(map(tuple, arrow[key].itertuples(index=False))) == set(
        map(tuple, out2[key].itertuples(index=False))
    )


def test_embedding_lsh_pairs_equals_exact_on_planted_dups(spark):
    """The scale path must reproduce the exact O(N²) join's output on a
    corpus of planted near-duplicates: 12 clusters of 5 tight copies
    (pairwise cosine ≈ 0.9998) in 32-d — at 4 planes × 8 tables the
    per-pair miss probability is ~1e-6, and the run is fully deterministic
    (seeded planes, seeded data), so equality is stable."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((12, 32))
    rows = []
    vid = 0
    for c in centers:
        for _ in range(5):
            v = c + rng.standard_normal(32) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    exact = {
        (r.id_a, r.id_b, r.cosine)
        for r in dd.embedding_cosine_pairs(df, threshold=0.95).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cosine)
        for r in dd.embedding_cosine_pairs_lsh(
            df, threshold=0.95, num_planes=4, num_tables=8, dim=32
        ).collect()
    }
    assert exact  # fixture must actually contain near-dup pairs
    assert lsh == exact


def test_lsh_pair_candidates_no_theta_join(spark, emb):
    """The candidate join must be an equi-join — never BNLJ/cartesian."""
    out = dd.embedding_cosine_pairs_lsh(
        emb, threshold=0.3, num_planes=4, num_tables=4, dim=64
    )
    sig = plans.signature(out)
    assert not sig["BroadcastNestedLoopJoin"] and not sig["CartesianProduct"]


def test_lsh_pair_candidates_multiprobe_superset(spark, emb):
    base = {
        (r.id_a, r.id_b)
        for r in sim.lsh_pair_candidates(
            emb, num_planes=6, num_tables=2, dim=64
        ).collect()
    }
    probed = {
        (r.id_a, r.id_b)
        for r in sim.lsh_pair_candidates(
            emb, num_planes=6, num_tables=2, dim=64, multiprobe=True
        ).collect()
    }
    assert base <= probed
    assert len(probed) > len(base)  # hamming-1 probing must add candidates


def test_lsh_buckets_deterministic(spark, emb):
    b1 = sim.with_lsh_buckets(emb, num_planes=6, seed=11).select("vec_id", "lsh_bucket")
    b2 = sim.with_lsh_buckets(emb, num_planes=6, seed=11).select("vec_id", "lsh_bucket")
    assert b1.exceptAll(b2).count() == 0


# -- multimodal ---------------------------------------------------------------

def test_asset_schema_and_features(spark):
    assets = mm.synthetic_assets(spark, n=60)
    assert assets.schema == mm.ASSET_SCHEMA
    feats = mm.extract_features(assets)
    rows = feats.collect()
    assert len(rows) == 60
    for r in rows[:5]:
        assert len(r.features) == mm.FEATURE_DIM
        assert all(0.0 <= f <= 1.0 for f in r.features)
        assert len(r.content_sha256) == 64
        assert r.n_bytes > 0
    # deterministic: same asset id → same features across runs
    again = {r.asset_id: r.features for r in mm.extract_features(mm.synthetic_assets(spark, n=60)).collect()}
    first = {r.asset_id: r.features for r in rows}
    assert again == first


def test_feature_extraction_is_distributed(spark):
    # repartition → multiple Arrow batches; output must be complete & stable
    assets = mm.synthetic_assets(spark, n=90).repartition(8)
    feats = mm.extract_features(assets)
    assert feats.count() == 90


def test_meta_filter(spark):
    assets = mm.synthetic_assets(spark, n=90)
    imgs = mm.filter_by_meta(assets, modality="image")
    assert imgs.count() == 30
    assert mm.filter_by_meta(assets, modality="audio").count() == 30


def test_decode_stubs_raise(spark):
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"xx", "png")
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"xx", "wav")
    with pytest.raises(NotImplementedError):
        mm.sample_video_frames(b"xx", "mp4")


def test_minhash_signature_column_helper(spark):
    """The per-row signature Column API (slow path, kept for composability)
    must agree with the explode-based pipeline's collision behavior."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b c d e", "a b c d e", "x y z w v"]})
    )
    sh = df.withColumn("__toks", tx.tokens("text")).select(
        "doc_id", tx.shingles_from_tokens(F.col("__toks"), 3).alias("sh")
    )
    sigs = {r.doc_id: r.sig for r in sh.select(
        "doc_id", dd.minhash_signature(F.col("sh"), 16).alias("sig")
    ).collect()}
    assert sigs[1] == sigs[2]           # identical docs → identical signature
    assert sigs[1] != sigs[3]
    assert len(sigs[1]) == 16


def test_simhash64_column_helper(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d e f", "a b c d e f"]})
    )
    sh = df.withColumn("__toks", tx.tokens("text")).select(
        "doc_id", tx.shingles_from_tokens(F.col("__toks"), 3).alias("sh")
    )
    vals = [r.h for r in sh.select(dd.simhash64(F.col("sh")).alias("h")).collect()]
    assert vals[0] == vals[1]
    assert isinstance(vals[0], int)


def test_ivf_topk_on_planted_clusters(spark):
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16))
    rows, vid = [], 0
    for ci, c in enumerate(centers):
        for _ in range(25):
            v = c + rng.standard_normal(16) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = sim.ivf_centroids_from_sample(df, k=8)
    query = [float(x) for x in centers[2]]
    exact = {r.vec_id for r in sim.cosine_topk(df, query, k=10).collect()}
    ivf = {r.vec_id for r in sim.ivf_topk(df, query, cents, k=10, nprobe=3).collect()}
    assert len(exact & ivf) / 10 >= 0.9


def test_ivf_kmeans_improves_recall_over_naive_init(spark):
    """The planted-cluster fixture is cluster-major by id, so the k
    lowest-id 'centroids' all come from cluster 0 — the pathological case.
    Lloyd iterations must recover real cells: recall at nprobe=1 must beat
    the naive init and be high in absolute terms."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16))
    rows, vid = [], 0
    for c in centers:
        for _ in range(25):
            v = c + rng.standard_normal(16) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    query = [float(x) for x in centers[5]]
    exact = {r.vec_id for r in sim.cosine_topk(df, query, k=10).collect()}

    naive = sim.ivf_centroids_from_sample(df, k=8)
    km = sim.ivf_centroids_kmeans(df, k=8, iters=4)
    r_km = len(exact & {
        r.vec_id for r in sim.ivf_topk(df, query, km, k=10, nprobe=1).collect()
    }) / 10
    assert r_km >= 0.9

    # The naive init's failure mode is cell collapse (all 8 'centroids' come
    # from cluster 0), so the probed cell contains most of the corpus — IVF
    # prunes nothing. k-means must yield real cells: the scanned fraction at
    # nprobe=1 drops to ~1/k while recall stays high.
    def scanned(cents):
        q = np.asarray(query)
        probe = int(np.argmax(cents @ q))
        return (
            sim.ivf_assign(df, cents).filter(F.col("ivf_cell") == probe).count()
        )
    n_km, n_naive = scanned(km), scanned(naive)
    assert n_km <= 30      # one planted cluster's worth — near-perfect cells
    assert n_km < n_naive  # naive cells scan strictly more (49 when written)


def test_ivf_assign_deterministic_and_total(spark, emb):
    cents = sim.ivf_centroids_from_sample(emb, k=4)
    a1 = sim.ivf_assign(emb, cents).groupBy("ivf_cell").count().collect()
    total = sum(r["count"] for r in a1)
    assert total == emb.count()
    a2 = sim.ivf_assign(emb, cents).groupBy("ivf_cell").count().collect()
    assert sorted((r.ivf_cell, r["count"]) for r in a1) == sorted((r.ivf_cell, r["count"]) for r in a2)


# ---------------------------------------------------------------------------
# Repetition / boilerplate metrics
# ---------------------------------------------------------------------------

def test_repetition_features_golden(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    # 10 tokens, 9 bigrams (7 distinct), 8 trigrams (7 distinct)
                    "the cat sat on the mat the cat sat again",
                    "",
                    "one two",  # 1 bigram, 0 trigrams
                ],
            }
        )
    )
    out = {r.doc_id: r for r in tx.add_repetition_features(df).collect()}
    assert out[1].rep_bigram_ratio == pytest.approx(1 - 7 / 9, abs=1e-4)
    assert out[1].rep_trigram_ratio == pytest.approx(1 - 7 / 8, abs=1e-4)
    assert out[1].mean_word_len == pytest.approx(31 / 10, abs=1e-4)
    assert out[2].rep_bigram_ratio == 0.0 and out[2].mean_word_len == 0.0
    assert out[3].rep_bigram_ratio == 0.0 and out[3].rep_trigram_ratio == 0.0


def test_duplicate_line_ratio(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                # 4 non-empty lines, 3 distinct ('a' repeats; blanks dropped)
                "text": ["a\nb\n\n  \na\nc", "single line"],
            }
        )
    )
    out = {r.doc_id: r.dup_line_ratio for r in tx.add_repetition_features(df).collect()}
    assert out[1] == pytest.approx(0.25, abs=1e-4)
    assert out[2] == 0.0


def test_top_token_fraction_golden(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a a a b", ""]})
    )
    rows_ = tx.top_token_fraction(df).collect()
    got = {r.doc_id: r.top_token_fraction for r in rows_}
    assert got == {1: 0.75}  # token-less doc absent by contract


def test_repetition_features_no_shuffle(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["a b c"]}))
    plan = tx.add_repetition_features(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

def test_redact_pii_all_types(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "text": [
                    "mail jo.doe+x@ex-ample.co.uk now",
                    "ssn 123-45-6789 end",
                    "host 192.168.0.1 up",
                    "call 555-867-5309 or +1 555 123 4567",
                    "no pii here at all",
                ]
            }
        )
    )
    out = df.select(
        tx.redact_pii("text").alias("clean"), tx.pii_count("text").alias("n")
    ).collect()
    assert out[0].clean == "mail <EMAIL> now" and out[0].n == 1
    assert out[1].clean == "ssn <SSN> end" and out[1].n == 1
    assert out[2].clean == "host <IP> up" and out[2].n == 1
    assert "<PHONE>" in out[3].clean and out[3].n == 2
    assert out[4].clean == "no pii here at all" and out[4].n == 0


def test_redact_pii_does_not_eat_plain_numbers(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["version 1.2.3 of 2024 costs 12-34 dollars"]})
    )
    out = df.select(tx.redact_pii("text").alias("clean")).collect()
    assert out[0].clean == "version 1.2.3 of 2024 costs 12-34 dollars"


# ---------------------------------------------------------------------------
# Deterministic splits / sampling
# ---------------------------------------------------------------------------

def test_hash_split_deterministic_and_disjoint(spark):
    from mini_etl_spark.functions import splits as sp

    df = spark.range(2000).withColumnRenamed("id", "k")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.k: r.s for r in df.select("k", sp.split_assign("k", w).alias("s")).collect()}
    b = {r.k: r.s for r in df.select("k", sp.split_assign("k", w).alias("s")).collect()}
    assert a == b  # same run-to-run
    counts = pd.Series(list(a.values())).value_counts()
    assert set(counts.index) == {"train", "val", "test"}
    # roughly proportional (hash-uniform over 2000 keys)
    assert 0.75 <= counts["train"] / 2000 <= 0.85


def test_hash_split_stable_under_growth(spark):
    """Adding rows must never move an existing key between splits."""
    from mini_etl_spark.functions import splits as sp

    w = {"train": 0.9, "val": 0.1}
    small = spark.range(500).withColumnRenamed("id", "k")
    big = spark.range(5000).withColumnRenamed("id", "k")
    a = {r.k: r.s for r in small.select("k", sp.split_assign("k", w).alias("s")).collect()}
    b = {r.k: r.s for r in big.select("k", sp.split_assign("k", w).alias("s")).collect()}
    assert all(b[k] == v for k, v in a.items())


def test_hash_sample_fraction_and_subset(spark):
    from mini_etl_spark.functions import splits as sp

    df = spark.range(4000).withColumnRenamed("id", "k")
    kept10 = {r.k for r in sp.hash_sample(df, "k", 0.10).collect()}
    kept30 = {r.k for r in sp.hash_sample(df, "k", 0.30).collect()}
    assert kept10 <= kept30  # nested samples: raising the rate only adds rows
    assert 0.07 <= len(kept10) / 4000 <= 0.13
    with pytest.raises(ValueError):
        sp.hash_sample(df, "k", 1.5)


def test_stratified_sample_per_stratum(spark):
    from mini_etl_spark.functions import splits as sp

    pdf = pd.DataFrame(
        {"k": range(3000), "g": ["a", "b", "c"] * 1000}
    )
    df = spark.createDataFrame(pdf)
    out = sp.stratified_sample(df, "k", "g", {"a": 1.0, "b": 0.2}).toPandas()
    by = out.groupby("g")["k"].count()
    assert by.get("a", 0) == 1000          # keep-all stratum intact
    assert 120 <= by.get("b", 0) <= 280    # ~20%
    assert "c" not in by.index             # default fraction 0 drops stratum


def test_cap_per_group(spark):
    from mini_etl_spark.functions import splits as sp

    pdf = pd.DataFrame(
        {"k": range(300), "g": ["a"] * 200 + ["b"] * 90 + ["c"] * 10}
    )
    df = spark.createDataFrame(pdf)
    out = sp.cap_per_group(df, "g", "k", cap=50).toPandas()
    by = out.groupby("g")["k"].count()
    assert by["a"] == 50 and by["b"] == 50
    assert by["c"] == 10  # under-cap group untouched
    # deterministic: same subset both runs, and a member of the cap=50
    # selection for a group is also in the cap=80 selection (prefix property)
    again = set(map(tuple, sp.cap_per_group(df, "g", "k", cap=50)
                    .toPandas().itertuples(index=False)))
    assert set(map(tuple, out.itertuples(index=False))) == again
    k80 = set(sp.cap_per_group(df, "g", "k", cap=80).toPandas()["k"])
    assert set(out["k"]) <= k80
    assert sp.cap_per_group(df, "g", "k", cap=0).count() == 0
    with pytest.raises(ValueError):
        sp.cap_per_group(df, "g", "k", cap=-1)


def test_split_seed_changes_assignment(spark):
    from mini_etl_spark.functions import splits as sp

    df = spark.range(1000).withColumnRenamed("id", "k")
    a = {r.k: r.b for r in df.select("k", sp.hash_bucket("k", seed=1).alias("b")).collect()}
    b = {r.k: r.b for r in df.select("k", sp.hash_bucket("k", seed=2).alias("b")).collect()}
    assert a != b


def test_approx_sketches_within_bounds(spark):
    """The query now emits a bound certificate (exact values + booleans
    asserting each sketch landed within its documented error) so the
    DuckDB oracle can hash-match it. Every certificate must hold, and
    the exact columns must agree with an independent exact aggregate."""
    import os, sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    approx = {
        r.l_returnflag: r
        for r in entrymod.queries()["approx_sketches"](spark, SF_ORACLE).collect()
    }
    exact = {
        r.l_returnflag: r
        for r in spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("orders"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, e in exact.items():
        a = approx[flag]
        assert a.cd_within_bound is True
        assert a.p50_within_bound is True
        assert a.exact_orders == e.orders
        assert a.n_rows == e.n


def _ppm_bytes(w, h):
    header = f"P6\n# test image\n{w} {h}\n255\n".encode()
    pixels = bytes((x * 3 + c) % 256 for y in range(h) for x in range(w) for c in range(3))
    return header + pixels


def _bmp_bytes(w, h):
    import struct

    row_bytes = (w * 3 + 3) & ~3
    data = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytes(v for x in range(w) for v in ((y + x) % 256, x % 256, y % 256))  # BGR
        data += row + b"\x00" * (row_bytes - w * 3)
    offset = 14 + 40
    size = offset + len(data)
    file_header = struct.pack("<2sIHHI", b"BM", size, 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return file_header + info + data


def _wav_bytes(n=100, rate=8000):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(
            b"".join(
                struct.pack("<h", int(16000 * math.sin(i / 5))) for i in range(n)
            )
        )
    return buf.getvalue()


def test_decode_image_ppm_and_bmp_native():
    img = mm.decode_image(_ppm_bytes(5, 4), "ppm")
    assert img.shape == (4, 5, 3) and img.dtype.name == "uint8"
    assert img[0, 0, 0] == 0 and img[0, 1, 0] == 3  # x*3+c pattern

    bmp = mm.decode_image(_bmp_bytes(5, 4), "bmp")
    assert bmp.shape == (4, 5, 3)
    # RGB order restored from BGR: pixel (y=0, x=1) = (y%256, x%256, (y+x)%256)
    assert tuple(bmp[0, 1]) == (0, 1, 1)
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG\r\n", "png")


def _png_bytes(img, ctype=2, filters=None):
    """Minimal stdlib PNG encoder for decoder tests: 8-bit, non-interlaced,
    one IDAT, per-row filter types chosen by `filters` (cycling) — lets a
    test force every unfilter branch (None/Sub/Up/Average/Paeth)."""
    import struct
    import zlib

    import numpy as np

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    arr = np.asarray(img, dtype=np.uint8)
    h, w = arr.shape[:2]
    ch = 1 if arr.ndim == 2 else arr.shape[2]
    flat = arr.reshape(h, w * ch).astype(np.int32)
    filters = filters or [0]
    raw = b""
    prev = np.zeros(w * ch, dtype=np.int32)
    for r in range(h):
        ft = filters[r % len(filters)]
        row = flat[r]
        if ft == 0:
            enc = row
        elif ft == 1:  # Sub
            left = np.zeros_like(row)
            left[ch:] = row[:-ch]
            enc = (row - left) & 0xFF
        elif ft == 2:  # Up
            enc = (row - prev) & 0xFF
        elif ft == 3:  # Average
            left = np.zeros_like(row)
            left[ch:] = row[:-ch]
            enc = (row - ((left + prev) >> 1)) & 0xFF
        else:  # Paeth
            enc = row.copy()
            for i in range(w * ch):
                a = row[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (row[i] - pred) & 0xFF
        raw += bytes([ft]) + bytes(enc.astype(np.uint8))
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_png_native_all_filters():
    """The native PNG decoder must invert every scanline filter type and
    expand each supported color type to RGB."""
    import numpy as np

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(10, 7, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = mm.decode_image(_png_bytes(img, filters=filters), "png")
        assert np.array_equal(got, img), f"filters={filters}"
    # grayscale (ctype 0) expands to identical RGB planes
    gray = rng.integers(0, 256, size=(6, 5), dtype=np.uint8)
    got = mm.decode_image(_png_bytes(gray, ctype=0, filters=[2]), "png")
    assert np.array_equal(got, np.repeat(gray[:, :, None], 3, axis=2))
    # RGBA (ctype 6) drops alpha
    rgba = rng.integers(0, 256, size=(4, 4, 4), dtype=np.uint8)
    got = mm.decode_image(_png_bytes(rgba, ctype=6, filters=[4]), "png")
    assert np.array_equal(got, rgba[:, :, :3])


def test_decode_png_through_resize_pipeline(spark):
    """PNG assets flow through the distributed resize stage: decode
    (native PNG) → nearest-neighbor resize → PPM re-encode, inside
    mapInPandas."""
    import numpy as np

    rng = np.random.default_rng(29)
    rows = []
    for i in range(4):
        img = rng.integers(0, 256, size=(8 + i, 6, 3), dtype=np.uint8)
        rows.append(
            (i, "image", bytearray(_png_bytes(img, filters=[0, 2])),
             ("png", 6, 8 + i, None, None))
        )
    df = spark.createDataFrame(rows, mm.ASSET_SCHEMA)
    out = {r["asset_id"]: bytes(r["content"])
           for r in mm.resize_assets(df, width=4, height=4).collect()}
    assert len(out) == 4
    for i in range(4):
        img = mm.decode_image(out[i], "ppm")  # re-encoded as PPM
        assert img.shape == (4, 4, 3)


def test_decode_image_pillow_fallback_formats():
    """With Pillow importable, jpeg bytes decode through the optional
    extra; without it the gate raises the honest NotImplementedError.
    This test exercises whichever branch the environment provides."""
    try:
        import io

        import numpy as np
        from PIL import Image

        img = np.zeros((5, 5, 3), dtype=np.uint8)
        img[:, :, 0] = 200
        buf = io.BytesIO()
        Image.fromarray(img).save(buf, format="JPEG")
        got = mm.decode_image(buf.getvalue(), "jpeg")
        assert got.shape == (5, 5, 3)
        assert abs(int(got[2, 2, 0]) - 200) < 10  # lossy but close
    except ImportError:
        with pytest.raises(NotImplementedError):
            mm.decode_image(b"\xff\xd8\xff\xe0fakejpeg", "jpeg")


def test_decode_audio_wav_native():
    wave_form = mm.decode_audio(_wav_bytes(200), "wav")
    assert wave_form.shape == (200,) and wave_form.dtype.name == "float32"
    assert abs(float(wave_form[0])) < 1e-6  # sin(0) = 0
    assert -1.0 <= float(wave_form.min()) and float(wave_form.max()) <= 1.0
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"ID3\x04\x00", "mp3")


def test_extract_features_with_real_image_kernel(spark):
    """Real decode in the distributed path: mean-RGB features computed from
    actual PPM pixel data through mapInPandas."""
    import numpy as np

    rows = [
        (i, "image", bytearray(_ppm_bytes(4 + i, 3)), ("ppm", 4 + i, 3, None, None))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, mm.ASSET_SCHEMA)

    def mean_rgb_kernel(content: bytes) -> np.ndarray:
        img = mm.decode_image(content, "ppm")
        feats = np.zeros(mm.FEATURE_DIM, dtype="float32")
        feats[:3] = img.reshape(-1, 3).mean(axis=0) / 255.0
        feats[3] = img.shape[1] / 1000.0  # width signal
        return feats

    out = {r["asset_id"]: r for r in mm.extract_features(df, kernel=mean_rgb_kernel).collect()}
    assert len(out) == 6
    for i in range(6):
        w = 4 + i
        expected_r = sum((x * 3) % 256 for x in range(w)) / w / 255.0
        assert abs(out[i]["features"][0] - expected_r) < 1e-5
        assert abs(out[i]["features"][3] - w / 1000.0) < 1e-9


def test_cell_pairs_recall_on_planted_dups(spark):
    """Cluster-scoped (SemDeDup-shape) pairs: tight near-duplicates land in
    the same random-projection cell almost surely, so within-cell exact
    verification recovers ≥90% of the exact pair set on planted clusters —
    and every reported pair must be in the exact set (precision 1.0)."""
    from mini_etl_spark.functions import similarity as sim

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((12, 32))
    rows = []
    vid = 0
    for c in centers:
        for _ in range(5):
            v = c + rng.standard_normal(32) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    exact = {
        (r.id_a, r.id_b)
        for r in dd.embedding_cosine_pairs(df, threshold=0.95).collect()
    }
    cents = sim.random_unit_centroids(dim=32, k=6, seed=7)
    cell = {
        (r.id_a, r.id_b)
        for r in sim.cell_cosine_pairs(df, cents, threshold=0.95).collect()
    }
    assert exact
    assert cell <= exact                      # precision 1.0
    assert len(cell) >= 0.9 * len(exact)      # boundary-loss bounded
    sig = plans.signature(sim.cell_cosine_pairs(df, cents, threshold=0.95))
    assert not sig["BroadcastNestedLoopJoin"] and not sig["CartesianProduct"]


def test_dedup_lines_keeps_first_occurrence_order(spark):
    from mini_etl_spark.functions import text as tx

    df = spark.createDataFrame(
        [(1, "a\nb\na\nc\nb"), (2, "x\nx\nx"), (3, "solo")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in tx.dedup_lines(df).collect()}
    assert got == {1: "a\nb\nc", 2: "x", 3: "solo"}


def test_strip_boilerplate_lines_thresholds(spark):
    from mini_etl_spark.functions import text as tx

    # 'BANNER' in 4/5 docs (80% > 30%) → dropped; 'rare' in 1 doc → kept;
    # empty lines never count as boilerplate
    rows = [(i, f"BANNER\nbody {i}\n\ntail {i}") for i in range(4)]
    rows.append((4, "rare\nbody 4"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in tx.strip_boilerplate_lines(df).collect()}
    assert got[0] == "body 0\n\ntail 0"
    assert got[4] == "rare\nbody 4"
    # min_doc_count guards small corpora: with min_doc_count=5 nothing drops
    kept = {
        r["doc_id"]: r["text"]
        for r in tx.strip_boilerplate_lines(df, min_doc_count=5).collect()
    }
    assert kept[0] == "BANNER\nbody 0\n\ntail 0"


def test_unigram_logprob_ranks_gibberish_low(spark):
    from mini_etl_spark.functions import text as tx

    common = "the data table join " * 10
    rows = [(i, common) for i in range(8)]
    rows.append((8, "zzqx vvkw qqpl mmzt"))  # tokens seen nowhere else
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lm_score"] for r in tx.unigram_logprob_score(df).collect()}
    assert len(got) == 9
    assert got[8] < got[0]  # rare-token soup scores below the corpus mode
    assert all(got[i] == got[0] for i in range(8))  # identical docs tie


def test_hashed_vectors_feed_embedding_operators(spark):
    """Composition: the hashing-trick featurizer makes text rows usable by
    the embedding operators — near-identical documents get cosine ≈ 1 and
    surface through cell_cosine_pairs with no model anywhere."""
    from mini_etl_spark.functions import similarity as sim
    from mini_etl_spark.functions import text as tx

    rows = [
        (0, "spark shuffles data across the cluster " * 4),
        (1, "spark shuffles data across the cluster " * 4 + "extra token"),
        (2, "completely different words about cooking pasta tonight"),
        (3, "unrelated legal boilerplate governing license terms here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = tx.hashed_doc_vectors(df, dim=32)
    assert vecs.count() == 4
    nrm = vecs.selectExpr(
        "doc_id", "round(aggregate(embedding, 0.0d, (a, x) -> a + x*x), 2) AS n2"
    ).collect()
    assert all(abs(r["n2"] - 1.0) < 0.01 for r in nrm)  # unit L2
    cents = sim.random_unit_centroids(dim=32, k=4, seed=7)
    pairs = sim.cell_cosine_pairs(
        vecs, cents, threshold=0.9, vec_col="embedding", id_col="doc_id"
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_cell_pairs_arrow_matches_expr(spark):
    """The Arrow matmul path returns the same pair set (and cosines to
    float tolerance) as the bit-reproducible expression path."""
    from mini_etl_spark.functions import similarity as sim

    rng = np.random.default_rng(31)
    rows = [
        (i, [float(x) for x in rng.standard_normal(32)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = sim.random_unit_centroids(dim=32, k=8, seed=7)
    expr = {
        (r.id_a, r.id_b): r.cosine
        for r in sim.cell_cosine_pairs(
            df, cents, threshold=0.2, method="expr"
        ).collect()
    }
    arrow = {
        (r.id_a, r.id_b): r.cosine
        for r in sim.cell_cosine_pairs(
            df, cents, threshold=0.2, method="arrow"
        ).collect()
    }
    assert expr  # fixture produces pairs
    assert set(expr) == set(arrow)
    assert all(abs(expr[k] - arrow[k]) < 2e-4 for k in expr)


def test_semantic_dedup_composed_pipeline(spark):
    """semantic_dedup keeps one representative per planted paraphrase
    cluster and every unique doc — the full model-free SemDeDup chain."""
    from mini_etl_spark.functions.corpus import semantic_dedup

    base = "spark shuffles data across the cluster nodes tonight "
    rows = []
    for i in range(3):  # cluster of 3 near-copies (ids 0,1,2)
        rows.append((i, base * 5 + f"tail{i}"))
    rows.append((3, "completely different words about cooking pasta"))
    rows.append((4, "unrelated legal text governing license terms"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r["doc_id"]
        for r in semantic_dedup(df, dim=32, cells=4, threshold=0.9).collect()
    )
    assert kept == [0, 3, 4]  # min-id representative + uniques


def test_resize_assets_distributed_roundtrip(spark):
    """Decode → resize → re-encode through mapInPandas: output PPMs decode
    to the requested shape; non-decodable assets pass through unchanged."""
    rows = [
        (0, "image", bytearray(_ppm_bytes(8, 6)), ("ppm", 8, 6, None, None)),
        (1, "image", bytearray(_bmp_bytes(10, 4)), ("bmp", 10, 4, None, None)),
        (2, "image", bytearray(b"\x89PNG\r\nfake"), ("png", 9, 9, None, None)),
    ]
    df = spark.createDataFrame(rows, mm.ASSET_SCHEMA)
    out = {r["asset_id"]: bytes(r["content"]) for r in mm.resize_assets(df, 4, 3).collect()}
    for aid in (0, 1):
        img = mm.decode_image(out[aid], "ppm")
        assert img.shape == (3, 4, 3)
    assert out[2] == bytes(b"\x89PNG\r\nfake")  # no decoder → untouched
    # nearest-neighbor correctness: resizing to the same size is identity
    src = mm.decode_image(_ppm_bytes(5, 4), "ppm")
    assert (mm.resize_image(src, 5, 4) == src).all()


def test_sample_video_frames_ppm_stream(spark):
    """A 10-frame PPM stream at 25 fps sampled every 200 ms keeps every
    5th frame; the distributed operator fans frames out one per row."""
    stream = b"".join(_ppm_bytes(4, 3) for _ in range(10))
    frames = mm.sample_video_frames(stream, "ppm-stream", every_ms=200, fps=25)
    assert len(frames) == 2  # indices 0 and 5
    assert frames[0].shape == (3, 4, 3)
    with pytest.raises(NotImplementedError):
        mm.sample_video_frames(b"\x00\x00\x00 ftypmp42", "mp4")

    rows = [
        (0, "video", bytearray(stream), ("ppm-stream", 4, 3, None, 400)),
        (1, "video", bytearray(b"\x00\x00\x00 ftypmp42"), ("mp4", None, None, None, 99)),
    ]
    df = spark.createDataFrame(rows, mm.ASSET_SCHEMA)
    got = mm.sample_frames_assets(df, every_ms=200, fps=25).collect()
    assert sorted((r["asset_id"], r["frame_idx"]) for r in got) == [(0, 0), (0, 1)]
    assert all(
        mm.decode_image(bytes(r["frame"]), "ppm").shape == (3, 4, 3) for r in got
    )


def test_quantize_embeddings_codes_and_error(spark):
    """int8 scalar quantization: codes in range, constant dims code to 0,
    and dequantized vectors stay within half a quantization step per dim."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = sim.quantize_embeddings(emb, levels=256)
    rows = {r.vec_id: r.codes for r in q.collect()}
    orig = {r.vec_id: list(r.embedding) for r in emb.collect()}
    assert rows.keys() == orig.keys()
    dim = len(next(iter(orig.values())))
    mins = [min(v[d] for v in orig.values()) for d in range(dim)]
    maxs = [max(v[d] for v in orig.values()) for d in range(dim)]
    for vid, codes in rows.items():
        assert len(codes) == dim
        for d, c in enumerate(codes):
            assert 0 <= c <= 255
            rng = maxs[d] - mins[d]
            if rng == 0:
                assert c == 0
                continue
            step = rng / 255.0
            dequant = mins[d] + c * step
            assert abs(dequant - orig[vid][d]) <= step / 2 + 1e-9


def test_quantize_embeddings_constant_dim(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0]), (3, [1.0, 6.0])],
        "vec_id bigint, embedding array<double>",
    )
    got = {r.vec_id: r.codes for r in sim.quantize_embeddings(df, levels=256).collect()}
    assert all(c[0] == 0 for c in got.values())  # constant dim -> 0
    assert got[1][1] == 0 and got[2][1] == 255  # endpoints hit the rails


def test_pq_trained_codebooks_beat_random(spark):
    """PQ quality gate: k-means-trained codebooks must reconstruct the
    corpus with lower squared error than seeded random codebooks, and
    codes must be in range."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in emb.collect()}

    def mse(codebooks):
        codes = {
            r.vec_id: r.pq_codes
            for r in sim.pq_codes(emb, codebooks).collect()
        }
        m, k, dsub = codebooks.shape
        total = 0.0
        for vid, v in vecs.items():
            for s in range(m):
                c = codebooks[s][codes[vid][s]]
                d = v[s * dsub : (s + 1) * dsub] - c
                total += float(d @ d)
            assert all(0 <= cd < k for cd in codes[vid])
        return total / len(vecs)

    rand_cb = sim.pq_random_codebooks(64, m=8, k=8, seed=13)
    trained_cb = sim.pq_train_codebooks(emb, m=8, k=8, iters=2)
    assert trained_cb.shape == rand_cb.shape
    assert mse(trained_cb) < mse(rand_cb)


def test_pq_adc_topk_contains_near_neighbors(spark):
    """ADC ranking sanity: the query itself (vec_id 0) must rank first
    with (near-)zero distance under its own codebook quantization."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = list(emb.filter("vec_id = 0").first().embedding)
    cb = sim.pq_random_codebooks(64, m=8, k=16, seed=13)
    top = sim.pq_adc_topk(emb, q, cb, k=5).collect()
    assert top[0].vec_id == 0
    assert top[0].adc_dist == min(r.adc_dist for r in top)


def test_pq_codes_arrow_matches_expr(spark):
    """The Arrow (scale) encoder must produce the same codes as the
    expression (oracle) path on the test corpus."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    cb = sim.pq_random_codebooks(64, m=8, k=8, seed=13)
    a = {r.vec_id: list(r.pq_codes) for r in sim.pq_codes(emb, cb, method="expr").collect()}
    b = {r.vec_id: list(r.pq_codes) for r in sim.pq_codes(emb, cb, method="arrow").collect()}
    assert a == b


def test_pq_adc_topk_arrow_matches_expr(spark):
    """End-to-end ADC ranking parity between the oracle (expr) and scale
    (arrow) encoders — same ids, same order, same rounded distances."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    cb = sim.pq_random_codebooks(64, m=8, k=8, seed=13)
    q = list(emb.filter("vec_id = 0").first().embedding)
    a = [
        (r.vec_id, r.adc_dist)
        for r in sim.pq_adc_topk(emb, q, cb, k=10, method="expr").collect()
    ]
    b = [
        (r.vec_id, r.adc_dist)
        for r in sim.pq_adc_topk(emb, q, cb, k=10, method="arrow").collect()
    ]
    assert a == b


def test_remove_duplicate_spans_partner_island_collision(spark):
    """Islands from DIFFERENT partner docs on the same victim diagonal can
    collide numerically (pb − rank); they must NOT merge into one excision
    range — the tokens between two partners' separate runs belong to the
    victim alone. Regression for the missing id_a in the island groupBy."""
    # width=2, diag=0 everywhere: partner A shares victim tokens 11-13,
    # partner C shares victim tokens 2-6 AND 15-17. C's island key for the
    # 15-16 spans is 15-5=10 == A's island key for 11-12 — the collision.
    v = [f"b{i}" for i in range(1, 19)]
    shared_x = ["x2", "x3", "x4", "x5", "x6"]     # victim positions 2-6
    shared_y = ["y11", "y12", "y13"]              # victim positions 11-13
    shared_z = ["z15", "z16", "z17"]              # victim positions 15-17
    v[1:6] = shared_x
    v[10:13] = shared_y
    v[14:17] = shared_z
    a = [f"a{i}" for i in range(1, 19)]
    a[10:13] = shared_y
    c = [f"c{i}" for i in range(1, 19)]
    c[1:6] = shared_x
    c[14:17] = shared_z
    docs = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(c)), (3, " ".join(v))],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in dd.remove_duplicate_spans(docs, width=2).collect()}
    kept = out[3].clean_text.split(" ")
    # b14 sits BETWEEN A's run (11-13) and C's run (15-17): neither
    # partner shares it, so it must survive; under the collision bug the
    # merged range [11,17] excised it.
    assert "b14" in kept
    # the genuinely shared passages are excised
    for tok in shared_x + shared_y + shared_z:
        assert tok not in kept
    assert out[1].n_removed_tokens == 0 and out[2].n_removed_tokens == 0


def test_weighted_sample_determinism_and_bias(spark):
    """Exponential-race weighted sample: deterministic under the seed,
    heavier weights overrepresented, zero weights never selected, grouped
    form caps per group."""
    from pyspark.sql import functions as F

    from mini_etl_spark.functions import splits as sp

    df = spark.range(2000).select(
        F.col("id").alias("k"),
        # ids < 200 get weight 50, the rest weight 1; a handful weight 0
        F.when(F.col("id") < 200, 50.0)
        .when(F.col("id") % 100 == 99, 0.0)
        .otherwise(1.0)
        .alias("w"),
        (F.col("id") % 4).alias("g"),
    )
    a = sorted(r.k for r in sp.weighted_sample(df, "k", "w", 300, seed=5).collect())
    b = sorted(r.k for r in sp.weighted_sample(df, "k", "w", 300, seed=5).collect())
    assert a == b and len(a) == 300
    heavy = sum(1 for k in a if k < 200)
    # 200 heavy keys at weight 50 vs ~1780 at weight 1: heavy keys should
    # dominate the sample far beyond their 10% population share
    assert heavy >= 150
    assert all(k % 100 != 99 or k < 200 for k in a)  # zero weights excluded
    c = sorted(r.k for r in sp.weighted_sample(df, "k", "w", 300, seed=6).collect())
    assert a != c  # seed moves the sample

    grouped = sp.weighted_sample(df, "k", "w", 10, group_col="g", seed=5)
    counts = {r.g: r.c for r in grouped.groupBy("g").agg(F.count("*").alias("c")).collect()}
    assert counts == {0: 10, 1: 10, 2: 10, 3: 10}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sp.weighted_sample(df, "k", "w", 0)


def test_dedup_paragraphs_global_first_occurrence(spark):
    """Cross-document paragraph dedup: global first (doc_id, pos) wins,
    later occurrences excised, short paragraphs exempt, doc order kept."""
    from mini_etl_spark.functions import text as tx

    rows = [
        (1, "alpha paragraph one\n\nshared syndicated passage\n\nok"),
        (2, "shared syndicated passage\n\nbeta unique paragraph\n\nok"),
        (3, "shared syndicated passage\n\nshared syndicated passage"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r.text for r in tx.dedup_paragraphs(df, min_chars=5).collect()}
    # doc 1 holds the first occurrence → untouched ("ok" is < 5 chars, exempt)
    assert out[1] == "alpha paragraph one\n\nshared syndicated passage\n\nok"
    # doc 2 loses the shared paragraph but keeps its own + the short one
    assert out[2] == "beta unique paragraph\n\nok"
    # doc 3 was nothing but the duplicate (twice) → empty
    assert out[3] == ""
    # deterministic: second run identical
    again = {r.doc_id: r.text for r in tx.dedup_paragraphs(df, min_chars=5).collect()}
    assert out == again


def test_ivf_index_build_and_serve(spark, tmp_path):
    """Persisted IVF index: build writes cell-partitioned vectors +
    centroids; indexed serving equals the in-memory ivf_topk AND prunes
    partitions at the scan (only the probed cells' files are listed)."""
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((6, 12))
    rows, vid = [], 0
    for c in centers:
        for _ in range(30):
            v = c + rng.standard_normal(12) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "ivf_index")
    cents = sim.build_ivf_index(df, path, k=6, iters=3)

    # layout: hive dirs per cell, centroids round-trip exactly
    import os
    dirs = {d for d in os.listdir(f"{path}/vectors") if d.startswith("ivf_cell=")}
    assert len(dirs) >= 2
    assert np.allclose(sim.load_ivf_centroids(spark, path), cents)

    query = [float(x) for x in centers[1]]
    served = sim.ivf_topk_indexed(spark, path, query, k=10, nprobe=2)
    direct = sim.ivf_topk(df, query, cents, k=10, nprobe=2)
    assert {r.vec_id for r in served.collect()} == {
        r.vec_id for r in direct.collect()
    }
    # partition pruning is visible in the physical plan's PartitionFilters
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "ivf_cell" in plan
    phys = plans.physical_plan(served)
    assert "PartitionFilters" in phys and "ivf_cell" in phys.split("PartitionFilters")[1][:200]


def test_diversity_cap_semantics(spark):
    """Per-cell cap enforced; selection deterministic across invocations;
    keep_cell surfaces the assignment; cells under the cap keep all rows."""
    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.standard_normal(16)]) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = sim.random_unit_centroids(dim=16, k=4, seed=7)
    capped = sim.diversity_cap(df, cents, cap=30, keep_cell=True)
    out = capped.collect()
    per_cell = {}
    for r in out:
        per_cell[r.ivf_cell] = per_cell.get(r.ivf_cell, 0) + 1
    assert all(v <= 30 for v in per_cell.values())
    assert sum(per_cell.values()) == len({r.vec_id for r in out})
    # deterministic: same ids on a second run
    again = {r.vec_id for r in sim.diversity_cap(df, cents, cap=30).collect()}
    assert again == {r.vec_id for r in out}
    # a huge cap keeps everything (and drops the cell column by default)
    full = sim.diversity_cap(df, cents, cap=1000)
    assert full.count() == 400 and "ivf_cell" not in full.columns


# ---------------------------------------------------------------------------
# common_ngrams (corpus-wide repeated n-gram census)
# ---------------------------------------------------------------------------

def test_common_ngrams_counts(spark):
    from mini_etl_spark.functions.text import common_ngrams

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "a quick brown fox runs"),
            (3, "the quick brown dog sits"),
            (4, "quick brown fox quick brown fox"),  # repeats within one doc
        ],
        "doc_id long, text string",
    )
    out = common_ngrams(df, n=3, min_docs=2, top_k=10)
    rows = {r["ngram"]: (r["n_docs"], r["occurrences"]) for r in out.collect()}
    # 'quick brown fox' in docs 1,2,4 — twice in doc 4 → 4 occurrences
    assert rows["quick brown fox"] == (3, 4)
    # 'the quick brown' in docs 1,3
    assert rows["the quick brown"] == (2, 2)
    # singletons filtered out by min_docs=2
    assert "brown dog sits" not in rows
    # ordering: most-shared first, deterministic
    top = out.collect()[0]
    assert top["ngram"] == "quick brown fox"


def test_common_ngrams_topk_and_validation(spark):
    from mini_etl_spark.functions.text import common_ngrams

    df = spark.createDataFrame(
        [(i, "x y z w") for i in range(5)], "doc_id long, text string"
    )
    out = common_ngrams(df, n=2, min_docs=2, top_k=2)
    assert out.count() == 2  # limit respected ('x y','y z','z w' all qualify)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n must be"):
        common_ngrams(df, n=0)


def test_remove_duplicate_spans_overlapping_partner_ranges_merge(spark):
    """VERDICT r4 #8: ranges from several partners overlapping on one
    victim pre-merge into disjoint intervals before the per-token scan.
    Coverage semantics must be identical to unmerged exists() — a token
    goes if ANY partner's range covers it."""
    from mini_etl_spark.functions import dedup as dd

    shared = "a b c d e f g h i j"      # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, shared),                                  # earliest: untouched
            (2, f"{shared} middle words"),                # partner of 1 and 3
            (9, f"pre1 pre2 {shared} post1 post2"),       # victim of both 1, 2
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.clean_text, r.n_removed_tokens)
        for r in dd.remove_duplicate_spans(docs, width=4).collect()
    }
    assert out[1] == (shared, 0)
    # doc 9: partners 1 and 2 both report the same 10-token passage ->
    # two fully-overlapping ranges merge to one; only the passage goes
    assert out[9] == ("pre1 pre2 post1 post2", 10)
    # doc 2 loses the passage to doc 1 only
    assert out[2] == ("middle words", 10)


def test_count_cosine_pairs_golden(spark):
    """Hand-computed bag-of-words cosine: term frequency matters (the
    signal jaccard_pairs ignores), output integers are exact."""
    from mini_etl_spark.functions import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),        # counts {apple:2, banana:1}, n2=5
            (2, "apple apple apple banana"),  # {apple:3, banana:1}, n2=10
            (3, "cherry cherry cherry"),      # disjoint from 1,2
            (4, "apple banana cherry"),       # {1,1,1}, n2=3
        ],
        ["doc_id", "text"],
    )
    rows = {
        (r.id_a, r.id_b): r
        for r in dd.count_cosine_pairs(docs, threshold=0.9).collect()
    }
    # cos(1,2) = (2*3 + 1*1) / sqrt(5*10) = 7/7.071 = 0.9899 -> kept
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert (r.dot, r.norm_sq_a, r.norm_sq_b) == (7, 5, 10)
    # lower threshold admits the (1,4)/(2,4) partial overlaps
    lo = {
        (r.id_a, r.id_b)
        for r in dd.count_cosine_pairs(docs, threshold=0.7).collect()
    }
    # cos(1,4) = 3/sqrt(15) = 0.7746; cos(2,4) = 4/sqrt(30) = 0.7303
    assert lo == {(1, 2), (1, 4), (2, 4)}
    import pytest as _p
    with _p.raises(ValueError, match="threshold"):
        dd.count_cosine_pairs(docs, threshold=0.0)


def test_count_cosine_pairs_hot_token_cap(spark):
    """Tokens above the doc-frequency cap leave the vector space entirely
    (dot AND norms) - cosine stays consistent on the reduced vocabulary."""
    from mini_etl_spark.functions import dedup as dd

    docs = spark.createDataFrame(
        [(i, f"the word{i}") for i in range(5)] + [(90, "the alpha"), (91, "the alpha")],
        ["doc_id", "text"],
    )
    # 'the' appears in 7 docs > cap 5 -> dropped everywhere; only the
    # alpha-sharing pair survives, with norms counting 'alpha' only
    rows = {
        (r.id_a, r.id_b): r
        for r in dd.count_cosine_pairs(docs, threshold=0.5, max_token_freq=5).collect()
    }
    assert set(rows) == {(90, 91)}
    assert (rows[(90, 91)].dot, rows[(90, 91)].norm_sq_a, rows[(90, 91)].norm_sq_b) == (1, 1, 1)


def test_kmeans_int_clusters_and_determinism(spark):
    """Integer k-means: well-separated groups land in distinct clusters,
    identical vectors co-cluster, and two runs produce identical output
    (every step is exact integer arithmetic)."""
    from mini_etl_spark.functions.similarity import kmeans_int

    base = {0: [0.0] * 8, 1: [10.0] * 8, 2: [-10.0, 10.0] * 4}
    rows = []
    for i in range(30):
        g = i % 3
        v = [x + (0.01 * (i // 3)) for x in base[g]]  # tight jitter per group
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_int(df, k=3, iters=4).collect()
    assert len(out) == 30
    by_group = {}
    for r in out:
        by_group.setdefault(r.vec_id % 3, set()).add(r.cluster)
    # each separated group maps to exactly one cluster, all distinct
    assert all(len(cs) == 1 for cs in by_group.values())
    assert len({next(iter(cs)) for cs in by_group.values()}) == 3
    out2 = kmeans_int(df, k=3, iters=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    import pytest as _p
    with _p.raises(ValueError, match="k must be"):
        kmeans_int(df, k=0)
    with _p.raises(ValueError, match="need >= 50"):
        kmeans_int(df, k=50)


def test_heavy_hitters_cm_properties(spark):
    """CM sketch invariants: estimate never underestimates, exact top-k
    candidates are correct, and a wide sketch on small vocab is exact."""
    from mini_etl_spark.functions.text import heavy_hitters_cm

    docs = spark.createDataFrame(
        [(i, "alpha " * 50 + "beta " * 20 + f"rare{i}") for i in range(10)],
        ["doc_id", "text"],
    )
    rows = {r.token: r for r in heavy_hitters_cm(docs, top_k=3).collect()}
    assert set(rows) == {"alpha", "beta", "rare0"}  # ties -> token asc
    assert rows["alpha"].exact_count == 500
    assert rows["beta"].exact_count == 200
    for r in rows.values():
        assert r.cm_estimate >= r.exact_count  # CM never underestimates
        assert r.overcount == r.cm_estimate - r.exact_count
    # vocab (12 tokens) << width (1024): collisions ~impossible -> exact
    assert all(r.overcount == 0 for r in rows.values())
    import pytest as _p
    with _p.raises(ValueError, match="depth and width"):
        heavy_hitters_cm(docs, depth=0)


def test_robust_outliers_flags_planted_spikes(spark):
    """MAD outliers: 10x spikes flagged, uniform bulk untouched, and the
    global (ungrouped) mode works."""
    from mini_etl_spark.maintenance import robust_outliers

    rows = [(i, "g", 100.0 + (i % 10)) for i in range(100)]
    rows += [(900, "g", 5000.0), (901, "g", 0.5)]
    df = spark.createDataFrame(rows, "id long, grp string, x double")
    out = robust_outliers(df, "x", group_col="grp").collect()
    assert sorted(r.id for r in out) == [900, 901]
    glob = robust_outliers(df, "x").collect()
    assert sorted(r.id for r in glob) == [900, 901]
    # bulk-only data: MAD-clean, nothing flagged
    clean = spark.createDataFrame(rows[:100], "id long, grp string, x double")
    assert robust_outliers(clean, "x", group_col="grp").count() == 0


def test_semantic_decontaminate_drops_planted_leak(spark):
    """A training embedding nearly identical to an eval embedding must be
    dropped; orthogonal vectors survive. Arrow and expr paths agree."""
    import numpy as np

    from mini_etl_spark.functions import similarity as sim

    rng = np.random.default_rng(3)
    ev_vec = rng.normal(size=8).tolist()
    rows_eval = [(1000, ev_vec)]
    rows_train = [
        (1, [v + 0.001 for v in ev_vec]),           # planted leak
        (2, rng.normal(size=8).tolist()),
        (3, rng.normal(size=8).tolist()),
    ]
    tr = spark.createDataFrame(rows_train, "vec_id long, embedding array<double>")
    ev = spark.createDataFrame(rows_eval, "vec_id long, embedding array<double>")
    cents = sim.random_unit_centroids(dim=8, k=4, seed=7)
    for method in ("arrow", "expr"):
        kept = sorted(
            r.vec_id
            for r in sim.semantic_decontaminate(
                tr, ev, cents, threshold=0.95, nprobe=4, method=method
            ).collect()
        )
        assert kept == [2, 3], method  # leak dropped, independents kept


def test_token_balanced_shard_ids_properties(spark):
    """Shard token mass within one doc of budget; docs whole; shards
    contiguous in md5 order; deterministic across runs."""
    from mini_etl_spark.functions.splits import token_balanced_shard_ids

    docs = spark.createDataFrame(
        [(i, "tok " * (5 + i % 40)) for i in range(300)],
        ["doc_id", "text"],
    )
    out = token_balanced_shard_ids(docs, tokens_per_shard=200).collect()
    assert len(out) == 300  # every doc assigned, whole
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    shards = sorted(by_shard)
    assert shards == list(range(len(shards)))  # dense shard ids from 0
    total = sum(r.n_tokens for r in out)
    assert shards[-1] == (total - 1) // 200 or total % 200 == 0
    for s in shards[:-1]:  # every non-final shard fills its budget
        mass = sum(r.n_tokens for r in by_shard[s])
        # starts-in-shard rule: mass in [budget - (max_doc-1), budget + max_doc)
        assert mass >= 200 - 44
        assert mass < 200 + 45
    out2 = token_balanced_shard_ids(docs, tokens_per_shard=200).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    import pytest as _p
    with _p.raises(ValueError, match="tokens_per_shard"):
        token_balanced_shard_ids(docs, tokens_per_shard=0)


def test_set_jaccard_pairs_generic(spark):
    """Modality-agnostic Jaccard join over array columns: exact overlap
    ratios, duplicates ignored (set semantics), empty/NULL rows silent."""
    from mini_etl_spark.functions.dedup import set_jaccard_pairs

    rows = [
        (1, ["a", "b", "c", "c"]),       # set {a,b,c}
        (2, ["b", "c", "d"]),            # |∩{1}|=2, |∪|=4 -> 0.5
        (3, ["x", "y"]),
        (4, []),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tags array<string>")
    out = {(r.id_a, r.id_b): r.jaccard
           for r in set_jaccard_pairs(df, "tags", threshold=0.5).collect()}
    assert out == {(1, 2): 0.5}


def test_video_near_dup_pairs(spark):
    """Frame-hash video dedup: overlapping footage pairs up, distinct
    footage does not; decode happens once executor-side."""
    from mini_etl_spark.functions import multimodal as mm

    def frame(i, w=4, h=3):
        return f"P6\n{w} {h}\n255\n".encode() + bytes([i % 251]) * (w * h * 3)

    vid_a = b"".join(frame(i) for i in range(5))       # frames 0-4
    vid_b = b"".join(frame(i) for i in range(2, 7))    # frames 2-6 (3 shared)
    vid_c = b"".join(frame(i) for i in range(50, 55))  # distinct
    rows = [
        (0, "video", bytearray(vid_a), ("ppm-stream", 4, 3, None, 1)),
        (1, "video", bytearray(vid_b), ("ppm-stream", 4, 3, None, 2)),
        (2, "video", bytearray(vid_c), ("ppm-stream", 4, 3, None, 3)),
    ]
    df = spark.createDataFrame(rows, mm.ASSET_SCHEMA)
    # every_ms=40 at fps=25 -> every frame sampled
    out = {(r.id_a, r.id_b): r.jaccard
           for r in mm.video_near_dup_pairs(df, threshold=0.4, every_ms=40).collect()}
    assert set(out) == {(0, 1)}
    assert abs(out[(0, 1)] - round(3 / 7, 4)) < 1e-9


def test_set_jaccard_binary_elements_distinct(spark):
    """r5 review: binary elements hash raw bytes - invalid-UTF-8
    fingerprints must NOT collapse onto one replacement-char key."""
    from mini_etl_spark.functions.dedup import set_jaccard_pairs

    rows = [
        (1, [bytearray(b"\xfe\xff"), bytearray(b"\x01")]),
        (2, [bytearray(b"\xff\xfe"), bytearray(b"\x02")]),  # NO real overlap
        (3, [bytearray(b"\xfe\xff"), bytearray(b"\x01")]),  # true dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, sigs array<binary>")
    out = {(r.id_a, r.id_b) for r in
           set_jaccard_pairs(df, "sigs", threshold=0.5).collect()}
    assert out == {(1, 3)}  # a string cast would also pair (1,2)/(2,3)


def test_set_jaccard_exact_generic(spark):
    """Prefix-filtered exact join: same contract as the uncapped
    inverted index — set semantics, empty/NULL silent, binary elements
    keyed on raw bytes, threshold on the ROUNDED ratio."""
    from mini_etl_spark.functions.dedup import set_jaccard_pairs_exact

    rows = [
        (1, ["a", "b", "c", "c"]),       # set {a,b,c}
        (2, ["b", "c", "d"]),            # |∩{1}|=2, |∪|=4 -> 0.5
        (3, ["x", "y"]),
        (4, []),
        (5, None),
        (6, ["a", "b", "c"]),            # identical to 1 -> 1.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, tags array<string>")
    out = {(r.id_a, r.id_b): r.jaccard
           for r in set_jaccard_pairs_exact(df, "tags", threshold=0.5).collect()}
    assert out == {(1, 2): 0.5, (1, 6): 1.0, (2, 6): 0.5}
    # threshold=1.0: only the exact duplicate survives
    out = {(r.id_a, r.id_b)
           for r in set_jaccard_pairs_exact(df, "tags", threshold=1.0).collect()}
    assert out == {(1, 6)}
    # binary elements: raw-byte keys, no replacement-char collapse
    brows = [
        (1, [bytearray(b"\xfe\xff"), bytearray(b"\x01")]),
        (2, [bytearray(b"\xff\xfe"), bytearray(b"\x02")]),
        (3, [bytearray(b"\xfe\xff"), bytearray(b"\x01")]),
    ]
    bdf = spark.createDataFrame(brows, "doc_id long, sigs array<binary>")
    out = {(r.id_a, r.id_b) for r in
           set_jaccard_pairs_exact(bdf, "sigs", threshold=0.5).collect()}
    assert out == {(1, 3)}


def test_set_jaccard_exact_rounded_threshold_boundary(spark):
    """The output filter compares the ROUNDED jaccard: true J = 7/17 =
    0.41176... < 0.41175+ rounds to 0.4118 and must be KEPT — the
    prefix/length pruning bounds derive from threshold−5e-5 so they
    cannot discard what the final filter admits."""
    from mini_etl_spark.functions.dedup import set_jaccard_pairs_exact

    shared = [f"s{i}" for i in range(7)]
    rows = [
        (1, shared + [f"a{i}" for i in range(5)]),   # |A|=12
        (2, shared + [f"b{i}" for i in range(5)]),   # |B|=12, |∪|=17
    ]
    df = spark.createDataFrame(rows, "doc_id long, tags array<string>")
    for limit in (2e8, 0):  # naive-dispatch AND forced-prefix branch
        out = {(r.id_a, r.id_b): r.jaccard
               for r in set_jaccard_pairs_exact(
                   df, "tags", threshold=0.41175,
                   naive_volume_limit=limit).collect()}
        assert out == {(1, 2): 0.4118}, limit


def test_set_jaccard_exact_matches_uncapped(spark):
    """Randomized differential: the prefix-filtered plan is bit-identical
    to the uncapped inverted-index plan (pairs AND rounded scores) on a
    skewed vocabulary (hot elements force the prefix filter to matter)
    across thresholds, including one where ceil(t·|s|) ties land exactly
    on integers."""
    import random

    from mini_etl_spark.functions.dedup import (
        set_jaccard_pairs,
        set_jaccard_pairs_exact,
    )

    rng = random.Random(1207)
    vocab = [f"v{i}" for i in range(30)]        # small vocab -> hot keys
    weights = [1.0 / (i + 1) for i in range(30)]  # zipf-ish
    rows = []
    for i in range(90):
        k = rng.randint(1, 10)
        rows.append((i, list({rng.choices(vocab, weights)[0]
                              for _ in range(k)})))
    # seed guaranteed near-dups (superset/subset + identical)
    rows.append((900, ["v0", "v1", "v2", "v3"]))
    rows.append((901, ["v0", "v1", "v2", "v3", "v4"]))
    rows.append((902, ["v0", "v1", "v2", "v3"]))
    df = spark.createDataFrame(rows, "doc_id long, tags array<string>")
    for thr in (0.3333, 0.5, 0.8):
        truth = {(r.id_a, r.id_b, r.jaccard) for r in
                 set_jaccard_pairs(df, "tags", threshold=thr,
                                   max_element_freq=None).collect()}
        # default dispatch (small Σdf² -> naive branch) AND the forced
        # prefix branch (naive_volume_limit=0) must both be bit-equal
        for limit in (2e8, 0):
            got = {(r.id_a, r.id_b, r.jaccard) for r in
                   set_jaccard_pairs_exact(
                       df, "tags", threshold=thr,
                       naive_volume_limit=limit).collect()}
            assert got == truth, (thr, limit, sorted(truth - got)[:3],
                                  sorted(got - truth)[:3])
        assert truth  # fixture must actually exercise the join


def test_jaccard_pairs_exact_matches_uncapped(spark):
    """Text-shingle twin of the prefix-filter differential: identical
    to jaccard_pairs(max_shingle_freq=None) — pairs AND scores — on a
    corpus with a shared stop-phrase (hot shingles) and true near-dups;
    sub-n-token docs vanish from both."""
    import random

    from mini_etl_spark.functions.dedup import (
        jaccard_pairs,
        jaccard_pairs_exact,
    )

    rng = random.Random(42)
    stop = "the quick brown fox jumps"
    rows = []
    for i in range(60):
        body = " ".join(rng.choice("abcdefgh") + str(rng.randint(0, 9))
                        for _ in range(rng.randint(3, 12)))
        rows.append((i, f"{stop} {body}"))
        if i % 7 == 0:  # near-dup: same body, one token changed
            rows.append((1000 + i, f"{stop} {body} zz"))
    rows.append((2000, "too short"))  # < 3 tokens -> no shingles
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for thr in (0.5, 0.75):
        truth = {(r.id_a, r.id_b, r.jaccard) for r in
                 jaccard_pairs(df, threshold=thr,
                               max_shingle_freq=None).collect()}
        for limit in (2e8, 0):  # naive-dispatch AND forced-prefix branch
            got = {(r.id_a, r.id_b, r.jaccard) for r in
                   jaccard_pairs_exact(df, threshold=thr,
                                       naive_volume_limit=limit).collect()}
            assert got == truth, (thr, limit, sorted(truth - got)[:3],
                                  sorted(got - truth)[:3])
    assert truth  # the near-dup seeds must pair at 0.75


def test_token_shards_null_text_and_writer_dups(spark, tmp_path):
    """r5 review: NULL text counts 0 tokens (never -1 into the prefix
    sum); the token-balanced writer keeps NULL-keyed rows and does not
    multiply duplicate keys (no join back)."""
    from mini_etl_spark.functions.splits import token_balanced_shard_ids
    from mini_etl_spark.sinks.shards import to_training_shards

    rows = [(i, "tok " * 10) for i in range(20)] + [(90, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in token_balanced_shard_ids(df, tokens_per_shard=50).collect()}
    assert out[90].n_tokens == 0 and out[90].shard >= 0
    assert all(r.shard >= 0 for r in out.values())

    dup = df.union(spark.createDataFrame([(5, "tok extra")], "doc_id long, text string"))
    path = str(tmp_path / "tb")
    to_training_shards(path, tokens_per_shard=50, fmt="jsonl")(dup)
    back = spark.read.json(path)
    assert back.count() == 22  # 21 + the duplicate-key row, written once each
    assert back.filter("doc_id = 5").count() == 2
    assert back.filter("doc_id = 90").count() == 1  # NULL text row kept


def test_containment_pairs_catches_subset_dup(spark):
    """A short doc quoted whole inside a long one: containment ~1.0,
    Jaccard tiny - only the containment join flags the pair."""
    from mini_etl_spark.functions import dedup as dd

    short = "alpha beta gamma delta epsilon zeta"
    long_doc = ("unrelated framing words before the quote " + short +
                " and then a very long tail " + " ".join(f"w{i}" for i in range(60)))
    docs = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "completely different content here")],
        ["doc_id", "text"],
    )
    cont = {(r.id_a, r.id_b): r.containment
            for r in dd.containment_dedup_pairs(docs, threshold=0.9).collect()}
    assert (1, 2) in cont and cont[(1, 2)] >= 0.9
    jac = dd.jaccard_pairs(docs, threshold=0.3).collect()
    assert not any((r.id_a, r.id_b) == (1, 2) for r in jac)  # jaccard blind


def test_benford_audit(spark):
    """Leading-digit audit: shares sum to 1, expected shares are the
    Benford constants, synthetic all-ones data concentrates on digit 1."""
    from mini_etl_spark.maintenance import BENFORD_EXPECTED, benford_audit

    ones = spark.createDataFrame(
        [(float(10 ** (i % 3)),) for i in range(30)] + [(0.0,), (None,)],
        "x double",
    )
    rows = {r.digit: r for r in benford_audit(ones, "x").collect()}
    assert set(rows) == {1}  # 10/100/1000 cents all lead with 1; 0/NULL excluded
    assert rows[1].n == 30 and rows[1].share == 1.0
    assert rows[1].expected == BENFORD_EXPECTED[1]
    mixed = spark.createDataFrame([(float(d),) for d in range(1, 10)], "x double")
    out = benford_audit(mixed, "x").collect()
    assert sorted(r.digit for r in out) == list(range(1, 10))
    # shares round to 4 decimals, so the sum is 1.0 within 9 half-ulps
    assert abs(sum(r.share for r in out) - 1.0) < 5e-4


def test_dataset_card(spark):
    from mini_etl_spark.maintenance import dataset_card

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None)], "id long, tag string"
    )
    card = dataset_card(df, name="toy", top_k=2)
    assert "# Data card: toy" in card
    assert "- rows: 3" in card
    assert "| id | bigint | 0 | 3 |" in card
    assert "| tag | string | 1 | 1 |" in card  # countDistinct excludes NULL
    assert "**tag**: 'a'×2" in card


def test_quantile_buckets_equal_frequency(spark):
    """Deciles over distinct values: ~equal bucket sizes, NULLs bucket
    NULL, boundary ties land low."""
    from mini_etl_spark.maintenance import quantile_buckets

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)] + [(900, None)], "id long, x double"
    )
    out = quantile_buckets(df, "x", buckets=10).collect()
    sizes = {}
    for r in out:
        sizes[r.qbucket] = sizes.get(r.qbucket, 0) + 1
    assert sizes.pop(None) == 1  # the NULL row
    assert set(sizes) == set(range(10))
    assert all(8 <= n <= 12 for n in sizes.values())
    # monotone: bigger value -> same or later bucket
    byid = {r.id: r.qbucket for r in out if r.qbucket is not None}
    assert all(byid[i] <= byid[i + 1] for i in range(99))
    import pytest as _p
    with _p.raises(ValueError, match="buckets"):
        quantile_buckets(df, "x", buckets=1)


def test_group_linear_trend_known_line(spark):
    """Exact OLS on a known line: y = 2x + 3 recovers slope 2e6 /
    intercept 3e6 in fixed units; zero-variance group emits NULLs."""
    from mini_etl_spark.maintenance import group_linear_trend

    rows = [("a", float(x), 2.0 * x + 3.0) for x in range(1, 11)]
    rows += [("b", 5.0, float(y)) for y in (1, 2, 3)]  # vertical: no variance
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r.g: r for r in group_linear_trend(df, "x", "y", ["g"]).collect()}
    # fixed units: x,y both scaled by 100 -> slope unchanged, intercept x100
    assert out["a"].n == 10
    assert out["a"].slope_e6 == 2_000_000
    assert out["a"].intercept_e6 == 300_000_000  # 3.0 * 100 * 1e6
    assert out["b"].slope_e6 is None and out["b"].intercept_e6 is None


def test_ivf_index_append_equals_rebuild(spark, tmp_path, caplog):
    """build(A) + ivf_index_append(B) serves identically to
    build(A ∪ B) at the SAME frozen centroids — the append ≡ rebuild
    differential for the vector index; plus the skew flag and the
    dimension guard."""
    import logging

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((5, 12))
    def batch(lo, n_per):
        rows, vid = [], lo
        out = []
        for c in centers:
            for _ in range(n_per):
                v = c + rng.standard_normal(12) * 0.01
                out.append((vid, [float(x) for x in v]))
                vid += 1
        return out
    rows_a = batch(0, 20)
    rows_b = batch(1000, 10)
    df_a = spark.createDataFrame(rows_a, "vec_id bigint, embedding array<float>")
    df_b = spark.createDataFrame(rows_b, "vec_id bigint, embedding array<float>")
    cents = sim.random_unit_centroids(dim=12, k=5, seed=3)

    appended = str(tmp_path / "appended")
    rebuilt = str(tmp_path / "rebuilt")
    sim.build_ivf_index(df_a, appended, centroids=cents)
    report = sim.ivf_index_append(df_b, appended)
    assert report["appended"] == len(rows_b) and report["cells"] >= 1
    sim.build_ivf_index(df_a.unionByName(df_b), rebuilt, centroids=cents)

    # stored vectors identical (id -> cell), not just query-equal
    stored = lambda p: {  # noqa: E731
        r["vec_id"]: r["ivf_cell"]
        for r in spark.read.parquet(f"{p}/vectors").collect()
    }
    assert stored(appended) == stored(rebuilt)
    q = [float(x) for x in centers[2]]
    got = {r.vec_id for r in sim.ivf_topk_indexed(spark, appended, q, k=8, nprobe=2).collect()}
    want = {r.vec_id for r in sim.ivf_topk_indexed(spark, rebuilt, q, k=8, nprobe=2).collect()}
    assert got == want

    # idempotent: re-appending the same batch is a no-op (already-stored
    # ids anti-joined away), so a crashed/re-run append never duplicates
    again = sim.ivf_index_append(df_b, appended)
    assert again["appended"] == 0
    assert stored(appended) == stored(rebuilt)

    # dimension drift refuses before writing anything
    df_bad = spark.createDataFrame(
        [(5000, [0.0] * 7)], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dimension"):
        sim.ivf_index_append(df_bad, appended)
    assert stored(appended) == stored(rebuilt)  # untouched

    # a pathologically hot batch trips the retrain flag
    hot = spark.createDataFrame(
        [(6000 + i, [float(x) for x in centers[0] + rng.standard_normal(12) * 0.01])
         for i in range(300)],
        "vec_id bigint, embedding array<float>",
    )
    with caplog.at_level(logging.WARNING,
                         logger="mini_etl_spark.functions.similarity"):
        rep2 = sim.ivf_index_append(hot, appended, skew_warn=2.0)
    assert rep2["retrain_recommended"] is True
    assert any("retrain" in r.message for r in caplog.records)


def test_ivf_legacy_index_without_marker_resolves_from_schema(spark, tmp_path):
    """Pre-r11 IVF indexes have no _IVF.json: column resolution falls
    back to the stored vectors schema (single array column = vector;
    single other non-cell column = id) so old indexes keep serving and
    appending with default arguments."""
    import os

    import numpy as np

    from mini_etl_spark.functions import similarity as sim

    rng = np.random.default_rng(5)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(6)]) for i in range(30)],
        "item bigint, vec array<float>",
    )
    path = str(tmp_path / "legacy")
    cents = sim.random_unit_centroids(dim=6, k=3, seed=9)
    sim.build_ivf_index(vecs.filter("item < 20"), path, centroids=cents,
                        vec_col="vec", id_col="item")
    # simulate a pre-marker index (mind the Hadoop .crc sidecar)
    os.remove(f"{path}/_IVF.json")
    crc = f"{path}/._IVF.json.crc"
    if os.path.exists(crc):
        os.remove(crc)

    q = [float(x) for x in rng.standard_normal(6)]
    got = sim.ivf_topk_indexed(spark, path, q, k=4).collect()
    assert len(got) == 4 and "item" in got[0].asDict()
    rep = sim.ivf_index_append(vecs.filter("item >= 20"), path)
    assert rep["appended"] == 10
    # idempotent re-append still resolves the same way
    assert sim.ivf_index_append(vecs.filter("item >= 20"), path)["appended"] == 0


# ---------------------------------------------------------------------------
# Arrow/GEMM fast paths: ivf_assign's Arrow twin and cell_cosine_pairs'
# GEMM prefilter are bit-identical to their expression forms;
# _span_postings drops df=1 spans; the embedding_cosine_pairs block-GEMM
# guard routes oversized inputs to LSH, and only on a credible estimate
# ---------------------------------------------------------------------------

ADVERSARIAL_VECS = [
    (1, [0.1, 0.2, 0.3, 0.4]),
    (2, [1.0, 0.0, 0.0, 0.0]),
    (3, [float("nan"), 1.0, 1.0, 1.0]),
    (4, [None, 1.0, 1.0, 1.0]),
    (5, [1.0, 2.0]),
    (6, [1.0, 2.0, 3.0, 4.0, 5.0]),
    (7, []),
    (8, None),
    (9, [0.0, 0.0, 0.0, 0.0]),
    (10, [-0.0, 0.0, -0.0, 0.0]),
    (11, [float("inf"), 1.0, -1.0, 0.5]),
    (12, [float("-inf"), float("inf"), 1.0, 0.5]),
    (13, [1e300, 1e300, -1e300, 1e-300]),
]


def _vec_frame(spark, rows, float32=False):
    from pyspark.sql import types as T

    elem = T.FloatType() if float32 else T.DoubleType()
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(elem)),
        ]
    )
    if float32:
        rows = [
            (i, None if v is None else [None if x is None else float(x) for x in v])
            for i, v in rows
        ]
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("float32", [False, True])
def test_ivf_assign_arrow_matches_expr_adversarial(spark, float32):
    from mini_etl_spark.functions import similarity as sim

    cents = sim.random_unit_centroids(dim=4, k=5, seed=7)
    # duplicate centroids force argmax ties
    cents = np.vstack([cents[0], cents[0], cents[1], cents[2]])
    df = _vec_frame(spark, ADVERSARIAL_VECS, float32=float32)
    expr = {
        r["vec_id"]: r["ivf_cell"]
        for r in sim.ivf_assign(df, cents, "embedding", method="expr").collect()
    }
    arrow = {
        r["vec_id"]: r["ivf_cell"]
        for r in sim.ivf_assign(df, cents, "embedding", method="arrow").collect()
    }
    assert expr == arrow


def test_ivf_assign_arrow_matches_expr_dense(spark):
    from mini_etl_spark.functions import similarity as sim

    rng = np.random.default_rng(13)
    cents = sim.random_unit_centroids(dim=16, k=8, seed=3)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16)])
        for i in range(500)
    ]
    df = _vec_frame(spark, rows)
    expr = {
        r["vec_id"]: r["ivf_cell"]
        for r in sim.ivf_assign(df, cents, "embedding", method="expr").collect()
    }
    arrow = {
        r["vec_id"]: r["ivf_cell"]
        for r in sim.ivf_assign(df, cents, "embedding", method="arrow").collect()
    }
    assert expr == arrow


def test_ivf_assign_arrow_ships_only_the_vector_column(spark):
    """The Arrow twin must stay a column expression (ArrowEvalPython over
    the vec column), not an opaque mapInArrow over the whole row — column
    pruning for the rest of the frame is the §4 contract."""
    from pyspark.sql import functions as F

    from mini_etl_spark.functions import similarity as sim

    cents = sim.random_unit_centroids(dim=4, k=3, seed=7)
    df = _vec_frame(spark, [(1, [0.1, 0.2, 0.3, 0.4])]).withColumn(
        "wide_payload", F.lit("x" * 10)
    )
    plan = plans.physical_plan(sim.ivf_assign(df, cents, "embedding"))
    assert "ArrowEvalPython" in plan, plan
    assert "MapInArrow" not in plan, plan


def _cell_pairs_per_pair_expr(df, cents, threshold):
    """The pre-r13 expr plan of ``cell_cosine_pairs``, inlined: in-cell
    self-join + per-pair zip_with dot, the form every SQL oracle
    replays."""
    from pyspark.sql import functions as F

    from mini_etl_spark.functions import similarity as sim

    assigned = sim.ivf_assign(df, cents, "embedding", method="expr")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    b0 = assigned.select(
        F.col("vec_id").alias("__id"),
        F.col("embedding").alias("__v"),
        F.col("ivf_cell").alias("__cell"),
        norm.alias("__n"),
    )
    a, b = b0.alias("a"), b0.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col("a.__v"), F.col("b.__v"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            (F.col("a.__cell") == F.col("b.__cell"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .withColumn("cosine", F.round(dot / (F.col("a.__n") * F.col("b.__n")), 4))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__cell").alias("cell"),
            "cosine",
        )
        .collect()
    )


def test_cell_cosine_pairs_expr_rescore_is_bit_identical(spark):
    """GEMM prefilter + exact rescore == the direct per-pair expression
    join, bit for bit (ids AND cosines)."""
    from mini_etl_spark.functions import similarity as sim

    rng = np.random.default_rng(5)
    # planted near-dup structure so pairs actually pass the threshold
    base_vecs = rng.standard_normal((12, 8))
    rows = []
    vid = 0
    for b in base_vecs:
        for _ in range(6):
            rows.append(
                (vid, [float(x) for x in (b + 0.01 * rng.standard_normal(8))])
            )
            vid += 1
    df = _vec_frame(spark, rows)
    cents = sim.random_unit_centroids(dim=8, k=4, seed=7)

    got = sim.cell_cosine_pairs(
        df, cents, threshold=0.5, method="expr"
    ).collect()

    want = _cell_pairs_per_pair_expr(df, cents, 0.5)
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    assert sorted(map(tuple, got), key=lambda t: t[:2]) == sorted(
        map(tuple, want), key=lambda t: t[:2]
    )
    assert len(want) > 0  # the fixture actually exercises the filter


def test_cell_cosine_pairs_expr_admits_overflow_range_pairs(spark):
    """Vectors whose squared norms overflow double range. Rows 0 and 1:
    the JVM's sequential dot adds ``-1e308 + inf`` (the second product
    overflows on its own), so their exact cosine is ``inf / inf = NaN``,
    which passes the ``>=`` filter; a BLAS dot with fused multiply-add
    stays finite (1.25e308) and scores the pair ``1.25e308 / inf = 0``.
    The prefilter must still admit it; the exact rescore decides."""
    from mini_etl_spark.functions import similarity as sim

    zeros = [0.0] * 6
    rows = [
        (0, [1e154, 1.5e154] + zeros),
        (1, [-1e154, 1.5e154] + zeros),
        (2, [1e154, -1e154] + zeros),
        (3, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]),
        (4, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.5]),
        (5, [1e-170, 1e-170] + zeros),
        (6, [0.0] * 8),
    ]
    df = _vec_frame(spark, rows)
    cents = np.full((1, 8), 8 ** -0.5)  # one cell: every pair is scored
    got = sim.cell_cosine_pairs(df, cents, threshold=0.5,
                                method="expr").collect()
    want = _cell_pairs_per_pair_expr(df, cents, 0.5)
    assert sorted(map(repr, map(tuple, got))) == sorted(
        map(repr, map(tuple, want)))  # repr: NaN cosines compare equal
    assert (0, 1) in {(r["id_a"], r["id_b"]) for r in want}


def test_span_postings_drop_df1_spans(spark):
    from pyspark.sql import functions as F

    from mini_etl_spark.functions.dedup import _span_postings

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta other words here"),
            (3, "totally unrelated text with unique spans only"),
        ],
        ["doc_id", "text"],
    )
    spans = _span_postings(docs, 4, "text", "doc_id", 1000)
    rows = spans.collect()
    # doc 3 shares nothing: all its spans are df=1 and must be gone
    assert all(r["__id"] != 3 for r in rows), rows
    # the shared 4-gram postings survive for docs 1 and 2
    assert {r["__id"] for r in rows} == {1, 2}, rows
    # every surviving hash appears in >= 2 docs
    from collections import Counter

    c = Counter(r["__h"] for r in rows)
    assert all(v >= 2 for v in c.values()), c


def test_embedding_gemm_guard_routes_to_lsh(spark, monkeypatch, tmp_path):
    from mini_etl_spark.functions import dedup as dd

    rng = np.random.default_rng(3)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(50)
    ]
    # a parquet scan: the guard needs a credible (file-size) estimate
    _vec_frame(spark, rows).write.parquet(str(tmp_path / "vecs"))
    df = spark.read.parquet(str(tmp_path / "vecs"))
    monkeypatch.setenv("MINI_ETL_EMBED_GEMM_LIMIT_BYTES", "1")
    with pytest.warns(UserWarning, match="Routing .*lsh"):
        out = dd.embedding_cosine_pairs(df, "embedding", "vec_id", 0.95)
    assert out.columns == ["id_a", "id_b", "cosine"]
    monkeypatch.setenv("MINI_ETL_EMBED_GEMM_LIMIT_BYTES", "0")
    # 0 disables the guard entirely
    dd.embedding_cosine_pairs(df, "embedding", "vec_id", 0.95).collect()


def test_size_guards_keep_the_exact_path_on_an_unknown_estimate(spark):
    """A 1000-row ``createDataFrame`` frame has no statistics: neither
    guard may read the Long.MaxValue sentinel as an oversized input."""
    import warnings

    from mini_etl_spark import maintenance as mt
    from mini_etl_spark.functions import dedup as dd

    df = spark.createDataFrame([(i % 7, 1.5 * i) for i in range(1000)],
                               "g long, v double")
    rng = np.random.default_rng(3)
    vecs = _vec_frame(spark, [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(50)
    ])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert mt._exact_percentile_guarded(df, True, "robust_outliers")
        pairs = dd.embedding_cosine_pairs(vecs, "embedding", "vec_id", 0.95)
    assert "MapInArrow" in plans.physical_plan(pairs)
