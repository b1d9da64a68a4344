"""Distributed token-count classifiers for corpus curation.

The quality/domain-filter stage of a training-data pipeline (the CCNet /
GPT-3 "quality classifier" slot, and the DSIR importance-sampling weights
of Xie et al. 2023) expressed relationally: a multinomial Naive Bayes
model IS two small DataFrames —

    token_lp:  (token, label, lp)       per-class token log-likelihoods
    classes:   (label, log_prior, unseen_lp)   k rows

Training is one token explode + two hash aggregates over the labeled
corpus (exact counts, add-one smoothing — fully deterministic, so an
external SQL engine replays the model bit-for-bit-after-rounding).
Scoring is one explode + an equi-join against the model + one aggregate —
every stage JVM-side, no UDFs, no driver materialization beyond the
k-row class table. At 100 TB: write the model frames to parquet once
(`token_lp` is vocabulary-sized, columnar) and serve many scoring runs;
the score join broadcasts the vocabulary-sized `token_lp` frame (see
`nb_score`).

Why Naive Bayes and not logistic regression: NB's sufficient statistics
are pure aggregates — one pass, no iterations, no learning rate — which
makes it the relational-native member of the linear-classifier family
the curation literature uses for this filter, and DSIR's hashed n-gram
importance weights are exactly a two-class NB log-ratio.

No reference counterpart (the reference has no ML/statistical surface);
cited against DSIR (arXiv:2302.03169) and the CCNet filtering stage.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mini_etl_spark.functions.text import exploded_tokens

__all__ = [
    "NaiveBayesModel",
    "nb_train",
    "nb_save",
    "nb_load",
    "nb_score",
    "nb_classify",
    "log_ratio_weights",
]


@dataclass
class NaiveBayesModel:
    """Relational NB model: two DataFrames (see module docstring). Persist
    with ``token_lp.write.parquet(...)`` / ``classes.write.parquet(...)``
    and reconstruct with the plain readers — there is no pickled state."""

    token_lp: DataFrame  # (token, label, lp)
    classes: DataFrame   # (label, log_prior, unseen_lp)


def nb_train(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    min_count: int = 1,
) -> NaiveBayesModel:
    """Train multinomial NB with add-one smoothing over ``tokens(text)``.

    lp(token | class)  = ln((count + 1) / (class_total + V))
    unseen_lp(class)   = ln(1 / (class_total + V))
    log_prior(class)   = ln(docs_in_class / total_docs)

    V counts the distinct vocabulary of the WHOLE corpus (all classes),
    so unseen-token mass is consistent across classes. ``min_count``
    prunes tokens seen fewer than that many times in a class from the
    model (they fall back to the class' unseen mass) — the vocabulary-
    size lever at corpus scale.

    One explode + (class, token) count + class totals; the k-row class
    table and the scalar V are computed in the same pass family. All
    exact integer counts → the model replays in any engine.
    """
    # exploded_tokens, not explode(tokens(...)): the barrier pins ONE
    # tokenizer evaluation per document (the inline form re-evaluates the
    # regex chain through the generator — measured 4× slower at sf0.1).
    # Everything downstream derives from the (label, token) occurrence
    # counts: class totals are Σ __c per label and V is the distinct token
    # count OF THE COUNTS FRAME — identical integers to aggregating the
    # raw postings, but the corpus is tokenized ONCE (the old shape
    # re-tokenized for counts, class totals and V separately — three full
    # explode passes at every action). The counts frame is persisted for
    # its three consumers and released below once the model tables are
    # materialized.
    tok = exploded_tokens(df, text_col, label_col, "label", "token")
    raw_counts = (
        tok.groupBy("label", "token").agg(F.count(F.lit(1)).alias("__c")).persist()
    )
    counts = raw_counts
    if min_count > 1:
        counts = counts.filter(F.col("__c") >= min_count)
    class_tok = raw_counts.groupBy("label").agg(F.sum("__c").alias("__ct"))
    # V and doc priors are tiny aggregates; evaluated once here (driver
    # scalars) so the model frames carry plain literals. This count also
    # materializes raw_counts for the consumers above.
    v = raw_counts.select("token").distinct().count()
    doc_counts = (
        df.groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    total_docs = sum(r["__n"] for r in doc_counts)
    if total_docs == 0:
        raise ValueError("nb_train: empty training corpus")
    if any(r["label"] is None for r in doc_counts):
        raise ValueError("nb_train: NULL labels in label_col — filter or fill first")
    classes_rows = [
        (r["label"], float(r["__n"]) / total_docs) for r in doc_counts
    ]
    spark = df.sparkSession
    classes = spark.createDataFrame(
        classes_rows, "label string, __prior double"
    ).join(class_tok, "label")
    classes = classes.select(
        "label",
        F.log(F.col("__prior")).alias("log_prior"),
        F.log(F.lit(1.0) / (F.col("__ct") + F.lit(float(v)))).alias("unseen_lp"),
        "__ct",
    )
    token_lp = (
        counts.join(classes.select("label", "__ct"), "label")
        .select(
            "token",
            "label",
            F.log(
                (F.col("__c") + F.lit(1.0)) / (F.col("__ct") + F.lit(float(v)))
            ).alias("lp"),
        )
    )
    # Materialize both model tables (vocabulary-sized and k-row — bounded
    # driver-side state by the function's own contract) so the persisted
    # counts frame can be released immediately instead of living until an
    # unknowable downstream action, and so every scoring pass reads model
    # DATA rather than re-running the training lineage.
    token_lp = token_lp.localCheckpoint(eager=True)
    classes = classes.drop("__ct").localCheckpoint(eager=True)
    raw_counts.unpersist()
    return NaiveBayesModel(token_lp, classes)


def nb_save(model: NaiveBayesModel, path: str, mode: str = "overwrite") -> None:
    """Persist the model as two parquet tables (``{path}/token_lp``,
    ``{path}/classes``) — the build-once serve-many shape: train on the
    labeled corpus once, score any number of ingestion batches without
    retraining. The class table is coalesced to one file (k rows)."""
    model.token_lp.write.mode(mode).parquet(f"{path}/token_lp")
    model.classes.coalesce(1).write.mode(mode).parquet(f"{path}/classes")


def nb_load(spark, path: str) -> NaiveBayesModel:
    """Reconstruct a :func:`nb_save`-persisted model; scoring joins read
    the vocabulary-sized token table straight off parquet."""
    return NaiveBayesModel(
        spark.read.parquet(f"{path}/token_lp"),
        spark.read.parquet(f"{path}/classes"),
    )


def nb_score(
    model: NaiveBayesModel,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document, per-class log-posterior (unnormalized):
    (``id_col``, ``label``, ``score``), score = log_prior + Σ_tokens lp,
    unseen tokens contributing the class' smoothed unseen mass. Documents
    with zero tokens score exactly their log_prior (the id × class grid
    is built explicitly, so empty docs never vanish).

    Plan: explode → per-document TOKEN-TYPE counts (one hash aggregate —
    the model join and the k-class expansion then see each distinct
    (doc, token) once, not once per occurrence: on natural text that cuts
    the join/shuffle input 2-5×) → broadcast the k-row class table →
    left equi-join the model on (token, label) → one count-weighted hash
    aggregate on (id, label). Scores rounded to 6 (cross-engine float
    contract, same as pagerank; Σ lp·cnt and the per-occurrence Σ lp
    differ only in last-ulp accumulation noise, absorbed by the round —
    the DuckDB oracle computes the identical count-weighted chain)."""
    tok = exploded_tokens(df, text_col, id_col, "__id", "token")
    tokc = tok.groupBy("__id", "token").agg(F.count(F.lit(1)).alias("__cnt"))
    grid = df.select(F.col(id_col).alias("__id")).crossJoin(
        F.broadcast(model.classes)
    )
    contrib = (
        tokc.crossJoin(F.broadcast(model.classes.select("label")))
        # the model is vocabulary-sized by nb_train's contract: broadcast
        # it so the per-document counts (the big side) never shuffle for
        # this join. Left to the planner, the static plan sort-merges it
        # (token_lp's estimate derives from aggregates over the training
        # corpus) and AQE demotes it to a broadcast only after both sides
        # have shuffled: domain_score at sf0.1 ran slower in 3 of 3 pairs
        # (3.10/3.23/3.33 s → 3.22/3.45/3.65 s).
        .join(F.broadcast(model.token_lp), ["token", "label"], "left")
        .groupBy("__id", "label")
        .agg(
            # null lp × cnt is null → sum skips: seen tokens only
            F.sum(F.col("lp") * F.col("__cnt")).alias("__known"),
            F.sum("__cnt").alias("__n_tok"),
            # sum over an all-NULL column is NULL, not 0 — a doc with no
            # known tokens must still charge (n_tok − 0) × unseen_lp
            F.coalesce(
                F.sum(F.when(F.col("lp").isNotNull(), F.col("__cnt"))),
                F.lit(0).cast("long"),
            ).alias("__n_known"),
        )
    )
    # unseen tokens: (n_tok - n_known) × unseen_lp — computed from counts
    # instead of a per-row coalesce against a joined class column, so the
    # model join needs only (token, label)
    return (
        grid.join(contrib, ["__id", "label"], "left")
        .select(
            F.col("__id").alias(id_col),
            "label",
            F.round(
                F.col("log_prior")
                + F.coalesce(F.col("__known"), F.lit(0.0))
                + F.coalesce(
                    (F.col("__n_tok") - F.col("__n_known")) * F.col("unseen_lp"),
                    F.lit(0.0),
                ),
                6,
            ).alias("score"),
        )
    )


def nb_classify(
    model: NaiveBayesModel,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Best label per document: (``id_col``, ``label``, ``score``) —
    highest rounded score, ties on lexicographically smallest label
    (deterministic in every engine)."""
    scored = nb_score(model, df, text_col, id_col)
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def log_ratio_weights(
    model: NaiveBayesModel,
    df: DataFrame,
    target_label: str,
    base_label: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights: (``id_col``, ``logratio``) =
    score(target) − score(base) per document — the log importance weight
    for sampling a raw corpus toward a target domain (Xie et al. 2023,
    with NB token likelihoods in place of hashed-ngram buckets; compose
    with ``splits.weighted_sample`` for the sampling step)."""
    scored = nb_score(model, df, text_col, id_col)
    t = scored.filter(F.col("label") == target_label).select(
        id_col, F.col("score").alias("__t")
    )
    b = scored.filter(F.col("label") == base_label).select(
        id_col, F.col("score").alias("__b")
    )
    return t.join(b, id_col).select(
        id_col, F.round(F.col("__t") - F.col("__b"), 6).alias("logratio")
    )
