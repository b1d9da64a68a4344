"""YAML/JSON pipeline config compiler.

Reference parity (mini_etl/core/config.py):

- ``ConfigLoader.load`` ⇐ config.py:105-144 — YAML/JSON by suffix, env-var
  substitution ``${VAR}`` / ``$VAR`` (config.py:103, 158-168), optional
  nested ``pipeline:`` key (config.py:176-177).
- ``PipelineConfig.validate`` ⇐ config.py:63-88 — name present, source type
  in {csv,json,excel,parquet,sql,api}, sink type in
  {csv,json,jsonl,parquet,sql,excel}, transformer whitelist (config.py:80-87).
- ``build_pipeline`` ⇐ config.py:231-378 — type→factory dispatch producing a
  runnable Pipeline.

The config is the engine's declarative "query language": it compiles to
DataFrame transformations, so Catalyst sees the whole plan (filter strings
become real predicates, eligible for pushdown — unlike the reference, where
a config filter was an opaque pandas eval).
"""

from __future__ import annotations

import json
import logging
import os
import re
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

from mini_etl_spark import operators as ops
from mini_etl_spark.pipeline import Pipeline

logger = logging.getLogger(__name__)

SOURCE_TYPES = {
    "csv", "json", "jsonl", "excel", "parquet", "orc", "xml", "sql", "api",
    "memory", "text", "binary", "warc",
}
SINK_TYPES = {
    "csv", "json", "jsonl", "parquet", "orc", "xml", "sql", "excel", "null",
    "shards", "drift_gate", "classify_gate", "lm_gate",
}
TRANSFORMER_TYPES = {
    "filter", "rename", "select", "drop", "cast", "fillna",
    "expression", "aggregate", "group", "dedup", "sort", "limit",
    "explode",
    # training-data-pipeline extensions (functions/ package)
    "text_features", "repetition_features", "redact_pii",
    "hash_split", "sample", "stratified_sample",
    "chunk", "pack_sequences", "expect", "dedup_lines", "strip_boilerplate",
    "dedup_paragraphs",
    "lm_score", "bigram_score", "hashed_vectors", "mix", "semantic_dedup",
    "normalize",
    "cap_per_group", "remove_spans", "bpe_encode", "quantize",
    "weighted_sample", "validate", "k_anonymize", "index_dedup",
    "nb_classify", "outliers", "decontaminate", "drift",
    "parse_urls", "url_blocklist", "html_text",
    "temperature_mix",
    # conversation (chat/SFT) modality
    "parse_chat", "validate_chat", "redact_chat", "dedup_chat",
    "render_chat",
}

_ENV_RE = re.compile(r"\$\{(\w+)\}|\$(\w+)")


def _substitute_env(text: str) -> str:
    """``${VAR}`` / ``$VAR`` → environment value (⇐ config.py:158-168);
    unknown vars are left as-is."""

    def _sub(m: re.Match) -> str:
        name = m.group(1) or m.group(2)
        return os.environ.get(name, m.group(0))

    return _ENV_RE.sub(_sub, text)


def _parse_freq_cap(cap):
    """Declarative form of a hot-key frequency cap (``max_*_freq``):
    ``None`` (uncapped), an int, ``"auto"`` (quantile-derived —
    operators/skew.py auto_frequency_cap), or ``"auto:<budget>"``
    (additionally bounds the post-cap candidate volume Σdf² to the
    budget — the form a 100 TB config should default to; the numeric
    budget accepts scientific notation, e.g. ``"auto:1e9"``, and must be
    positive — ``"auto:0"`` fails here at config load, not silently at
    runtime). Recall trade, stated honestly: when the budget binds below
    the quantile cap, pairs mediated only by keys above the lowered cap
    are sacrificed for the work bound — the same trade every frequency
    cap makes; the fit logs an INFO line when it happens."""
    if cap is None or cap == "auto":
        return cap
    if isinstance(cap, str) and cap.startswith("auto:"):
        from mini_etl_spark.operators.skew import parse_freq_budget

        parse_freq_budget(cap)  # build-time validation, same grammar
        return cap
    return int(cap)


def _require_sink_options(sink: str, o: dict, *required: str, path=None) -> None:
    """Streaming-gate sinks validate their required keys up front so a
    missing key surfaces as a config ValueError naming the sink and the
    key — not a bare KeyError mid-build — and a missing ``path`` cannot
    silently flow ``None`` into the gate's out_path (ADVICE r11)."""
    missing = ([] if path is not None else ["path"]) + [
        k for k in required if o.get(k) is None
    ]
    if missing:
        raise ValueError(
            f"{sink} sink: missing required option(s) "
            f"{', '.join(missing)} (requires: path, {', '.join(required)})"
        )


def _require_streaming_source(df, sink: str) -> None:
    if not df.isStreaming:
        raise ValueError(
            f"{sink} sink requires a streaming source (add `stream: true` "
            "to the source); for batch frames use the matching transformer "
            "node (nb_classify / lm_score / drift with max_psi) followed by "
            "a parquet sink."
        )


@dataclass
class ComponentConfig:
    type: str
    options: dict[str, Any] = field(default_factory=dict)


@dataclass
class PipelineConfig:
    name: str
    source: ComponentConfig | None = None
    sink: ComponentConfig | None = None
    transformers: list[ComponentConfig] = field(default_factory=list)
    on_error: str = "raise"

    def validate(self) -> list[str]:
        """⇐ config.py:63-88 — returns a list of error strings (empty = ok)."""
        errors: list[str] = []
        if not self.name:
            errors.append("pipeline name is required")
        if self.source is None:
            errors.append("source is required")
        elif self.source.type not in SOURCE_TYPES:
            errors.append(
                f"unknown source type {self.source.type!r} (expected {sorted(SOURCE_TYPES)})"
            )
        if self.sink is None:
            errors.append("sink is required")
        elif self.sink.type not in SINK_TYPES:
            errors.append(
                f"unknown sink type {self.sink.type!r} (expected {sorted(SINK_TYPES)})"
            )
        for t in self.transformers:
            if t.type not in TRANSFORMER_TYPES:
                errors.append(
                    f"unknown transformer type {t.type!r} (expected {sorted(TRANSFORMER_TYPES)})"
                )
        if self.on_error not in ("raise", "skip", "log"):
            errors.append(f"invalid on_error {self.on_error!r}")
        return errors


class ConfigLoader:
    """Load + parse + build (⇐ ConfigLoader, config.py:91-378)."""

    def load(self, path: str | Path) -> PipelineConfig:
        path = Path(path)
        if not path.exists():
            raise FileNotFoundError(f"config file not found: {path}")
        text = _substitute_env(path.read_text())
        if path.suffix in (".yaml", ".yml"):
            import yaml

            raw = yaml.safe_load(text)
        elif path.suffix == ".json":
            raw = json.loads(text)
        else:
            raise ValueError(f"unsupported config format {path.suffix!r} (yaml/json)")
        return self.parse(raw)

    def parse(self, raw: dict[str, Any]) -> PipelineConfig:
        if not isinstance(raw, dict):
            raise ValueError("config root must be a mapping")
        if "pipeline" in raw:  # nested form (config.py:176-177)
            raw = raw["pipeline"]

        def _component(spec: dict[str, Any] | None) -> ComponentConfig | None:
            if spec is None:
                return None
            spec = dict(spec)
            missing = object()
            ctype = spec.pop("type", missing)
            if ctype is missing:
                raise ValueError("component requires a type")
            if ctype is None:
                ctype = "null"  # YAML `type: null` parses as None — the null sink
            return ComponentConfig(type=str(ctype).lower(), options=spec)

        transformers = [
            _component(t) for t in raw.get("transformers", raw.get("transforms", []))
        ]
        return PipelineConfig(
            name=raw.get("name", ""),
            source=_component(raw.get("source")),
            sink=_component(raw.get("sink", raw.get("destination"))),
            transformers=[t for t in transformers if t],
            on_error=raw.get("on_error", "raise"),
        )

    # -- component builders (⇐ config.py:260-378) ---------------------------
    def build_pipeline(self, config: PipelineConfig) -> Pipeline:
        errors = config.validate()
        if errors:
            raise ValueError("invalid config: " + "; ".join(errors))
        pipeline = Pipeline(config.name, on_error=config.on_error)
        pipeline.set_source(self._build_source(config.source))
        for t in config.transformers:
            pipeline.add_transformer(self._build_transformer(t))
        pipeline.set_sink(self._build_sink(config.sink))
        return pipeline

    def _build_source(self, spec: ComponentConfig):
        from mini_etl_spark import sources as src

        o = dict(spec.options)
        path = o.pop("path", o.pop("filepath", None))
        if spec.type == "csv":
            return src.read_csv(path, **o)
        if spec.type == "json":
            return src.read_json(path, lines=o.pop("lines", False), **o)
        if spec.type == "jsonl":
            return src.read_json(path, lines=True, **o)
        if spec.type == "parquet":
            return src.read_parquet(path, **o)
        if spec.type == "orc":
            if o.pop("stream", False):
                raise ValueError("stream: true is supported for csv/json/parquet sources")
            return src.read_orc(path, **o)
        if spec.type == "excel":
            return src.read_excel(path, **o)
        if spec.type == "xml":
            return src.read_xml(path, **o)
        if spec.type == "sql":
            url = o.pop("connection_string", o.pop("url", None))
            return src.read_jdbc(url, **o)
        if spec.type == "api":
            url = o.pop("url", None)
            return src.read_api(url, **o)
        if spec.type == "memory":
            return src.from_memory(o.pop("data"), **o)
        if spec.type == "text":
            return src.read_text(path, **o)
        if spec.type == "binary":
            return src.read_binary_files(path, **o)
        if spec.type == "warc":
            if "record_types" in o and o["record_types"] is not None:
                o["record_types"] = tuple(o["record_types"])
            return src.read_warc(path, **o)
        raise ValueError(f"unknown source type {spec.type!r}")

    def _build_transformer(self, spec: ComponentConfig):
        o = dict(spec.options)
        if spec.type == "filter":
            # config "condition" string (config.py:305-311)
            return ops.filter_rows(o.get("condition", o.get("expression")))
        if spec.type == "rename":
            return ops.rename_columns(o.get("columns", o))
        if spec.type == "select":
            return ops.select_columns(o.get("columns"), o.get("ignore_missing", True))
        if spec.type == "drop":
            return ops.drop_columns(o.get("columns"), o.get("ignore_missing", True))
        if spec.type == "cast":
            return ops.cast_types(o.get("columns", o))
        if spec.type == "fillna":
            return ops.fill_na(
                value=o.get("value"),
                columns=o.get("columns"),
                method=o.get("method"),
                order_by=o.get("order_by"),
                partition_by=o.get("partition_by"),
            )
        if spec.type == "expression":
            return ops.with_expression(o["expression"], o.get("filter_mode", False))
        if spec.type in ("aggregate", "group"):
            return ops.group_agg(o.get("group_by"), o.get("agg", o.get("aggregations")))
        if spec.type == "dedup":
            return ops.deduplicate(o.get("subset"), o.get("keep", "any"), o.get("order_by"))
        if spec.type == "sort":
            return ops.sort_rows(o.get("by"), o.get("ascending", True))
        if spec.type == "limit":
            return ops.limit(int(o.get("n", o.get("limit", 0))))
        if spec.type == "explode":
            return ops.explode_column(
                o["column"], o.get("output"), o.get("outer", False)
            )
        if spec.type == "text_features":
            from mini_etl_spark.functions import text as tx

            col, prefix = o.get("column", "text"), o.get("prefix", "")
            return lambda df: tx.add_text_features(df, col, prefix)
        if spec.type == "repetition_features":
            from mini_etl_spark.functions import text as tx

            col, prefix = o.get("column", "text"), o.get("prefix", "")
            return lambda df: tx.add_repetition_features(df, col, prefix)
        if spec.type == "redact_pii":
            from mini_etl_spark.functions import text as tx

            col = o.get("column", "text")
            out = o.get("output", col)
            return lambda df: df.withColumn(out, tx.redact_pii(col))
        if spec.type == "hash_split":
            from mini_etl_spark.functions import splits as sp

            key = o["key"]
            weights = o.get("weights", {"train": 0.9, "val": 0.05, "test": 0.05})
            out, seed = o.get("output", "split"), int(o.get("seed", 42))
            return lambda df: df.withColumn(out, sp.split_assign(key, weights, seed))
        if spec.type == "sample":
            from mini_etl_spark.functions import splits as sp

            key, frac = o["key"], float(o["fraction"])
            seed = int(o.get("seed", 42))
            return lambda df: sp.hash_sample(df, key, frac, seed)
        if spec.type == "chunk":
            from mini_etl_spark.functions import chunking as ck

            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            window = int(o.get("window", 64))
            stride = int(o.get("stride", window))
            return lambda df: ck.chunk_documents(df, col, id_col, window, stride)
        if spec.type == "pack_sequences":
            from mini_etl_spark.functions import chunking as ck

            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            max_tokens = int(o.get("max_tokens", 512))
            group_size = int(o.get("group_size", 100))
            return lambda df: ck.pack_sequences(df, col, id_col, max_tokens, group_size)
        if spec.type == "semantic_dedup":
            from mini_etl_spark.functions.corpus import semantic_dedup

            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            dim = int(o.get("dim", 64))
            cells = int(o.get("cells", 32))
            thr = float(o.get("threshold", 0.9))
            seed = int(o.get("seed", 42))
            return lambda df: semantic_dedup(
                df, col, id_col, dim, cells, thr, seed
            )
        if spec.type == "lm_score":
            from mini_etl_spark.functions import text as tx

            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            out = o.get("output", "lm_score")
            return lambda df: tx.unigram_logprob_score(df, col, id_col, out)
        if spec.type == "normalize":
            from mini_etl_spark.functions import text as tx

            col = o.get("column", "text")
            out = o.get("output", col)  # default: clean in place
            return lambda df: df.withColumn(out, tx.normalize_text(col))
        if spec.type == "parse_urls":
            from mini_etl_spark.functions import web

            col = o.get("column", "url")
            prefix = o.get("prefix", "url_")
            normalize = bool(o.get("normalize", False))

            def _parse(df, _c=col, _p=prefix, _n=normalize):
                out = web.with_url_parts(df, _c, _p)
                if _n:
                    out = out.withColumn(f"{_p}norm", web.normalize_url(_c))
                return out

            return _parse
        if spec.type == "html_text":
            from mini_etl_spark.functions import web

            col = o.get("column", "html")
            out = o.get("output", "text")
            return lambda df: df.withColumn(out, web.html_to_text(col))
        if spec.type == "url_blocklist":
            from mini_etl_spark.functions import web

            col = o.get("column", "url")
            blocked = o["blocked"]  # list of domains (required)
            mode = o.get("mode", "drop")
            match = o.get("match", "suffix")
            return lambda df: web.filter_url_blocklist(df, col, blocked, mode, match)
        if spec.type == "parse_chat":
            from mini_etl_spark.functions import conversations as cv

            col = o.get("column", "chat_json")
            out = o.get("output", "messages")
            return lambda df: cv.parse_chat_json(df, col, out)
        if spec.type == "validate_chat":
            from mini_etl_spark.functions import conversations as cv

            col = o.get("column", "messages")
            valid_only = bool(o.get("valid_only", False))

            def _vchat(df, _c=col, _v=valid_only):
                out = cv.validate_conversations(df, _c)
                if _v:
                    from pyspark.sql import functions as FF

                    out = out.filter(FF.col("conv_valid")).drop(
                        "conv_errors", "conv_valid"
                    )
                return out

            return _vchat
        if spec.type == "redact_chat":
            from mini_etl_spark.functions import conversations as cv

            col = o.get("column", "messages")
            count = o.get("count", "n_pii")
            return lambda df: cv.redact_conversations(df, col, count)
        if spec.type == "dedup_chat":
            from mini_etl_spark.functions import conversations as cv

            id_col = o.get("id", "conv_id")
            col = o.get("column", "messages")
            by = o.get("by", "full")
            return lambda df: cv.dedup_conversations(df, id_col, col, by)
        if spec.type == "render_chat":
            from mini_etl_spark.functions import conversations as cv

            col = o.get("column", "messages")
            out = o.get("output", "text")
            sep = o.get("sep", "\n")
            return lambda df: cv.render_chat(df, col, out, sep)
        if spec.type == "outliers":
            from mini_etl_spark.maintenance import robust_outliers

            col = o["column"]  # required
            group = o.get("group")
            kk = float(o.get("k", 3.0))
            mode = o.get("mode", "drop")  # drop outliers | keep only them
            # exact=False -> percentile_approx sketches (the 100 TB path)
            exact = bool(o.get("exact", True))

            if mode not in ("drop", "keep", "flag"):
                raise ValueError(
                    f"outliers: mode must be drop|keep|flag, got {mode!r}"
                )

            def _outliers(df, _c=col, _g=group, _k=kk, _m=mode, _e=exact):
                from pyspark.sql import functions as FF

                flagged = robust_outliers(
                    df, _c, group_col=_g, k=_k, mode="flag", exact=_e
                )
                if _m == "flag":
                    return flagged.drop("__v", "group_median", "group_mad")
                keep = (
                    FF.col("is_outlier") if _m == "keep" else ~FF.col("is_outlier")
                )
                return flagged.filter(keep).drop(
                    "__v", "group_median", "group_mad", "is_outlier"
                )

            return _outliers
        if spec.type == "bigram_score":
            from mini_etl_spark.functions import lm

            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            out = o.get("output", "lm2_score")
            alpha = float(o.get("alpha", 1.0))
            model_path = o.get("model_path")

            def _bigram(df, _c=col, _i=id_col, _o=out, _a=alpha, _p=model_path):
                model = (
                    df.sparkSession.read.parquet(_p)
                    if _p
                    else lm.train_bigram_lm(df, _c, _i)
                )
                return lm.bigram_logprob_score(df, model, _c, _i, _a, _o)

            return _bigram
        if spec.type == "hashed_vectors":
            from mini_etl_spark.functions import text as tx

            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            dim = int(o.get("dim", 64))
            seed = int(o.get("seed", 42))
            out = o.get("output", "embedding")
            return lambda df: tx.hashed_doc_vectors(df, col, id_col, dim, seed, out)
        if spec.type == "bpe_encode":
            from mini_etl_spark.functions import bpe

            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            out = o.get("output", "bpe_tokens")
            merges_path = o.get("merges_path")
            num_merges = int(o.get("num_merges", 1000))
            # corpus-fit driver-collect bounds: min_count floors the
            # histogram executor-side, max_vocab caps it top-k — at
            # corpus scale set at least one, or the distinct-word pull
            # is corpus-sized. Defaults keep the exact full histogram.
            min_count = int(o.get("min_count", 1))
            max_vocab = o.get("max_vocab")
            max_vocab = int(max_vocab) if max_vocab is not None else None

            if not merges_path and min_count <= 1 and max_vocab is None:
                # same guard class as the driver-path size warnings: the
                # corpus-fit histogram collect is distinct-word-sized
                # unless at least one bound is set
                logger.warning(
                    "bpe_encode: corpus-fit training with neither "
                    "min_count nor max_vocab — the driver-side word "
                    "histogram is unbounded (distinct-word-sized). Set "
                    "min_count and/or max_vocab for large corpora, or "
                    "train offline and pass merges_path."
                )

            def _bpe(df):
                if merges_path:
                    rows = (
                        df.sparkSession.read.parquet(merges_path)
                        .orderBy("rank")
                        .collect()
                    )
                    merges = [(r.left, r.right) for r in rows]
                else:  # corpus-fit: train on the incoming frame itself
                    hist = [
                        (r.word, r["count"])
                        for r in bpe.word_histogram(
                            df, col, id_col,
                            min_count=min_count, max_vocab=max_vocab,
                        ).collect()
                    ]
                    merges = bpe.train_bpe_merges(hist, num_merges)
                return bpe.apply_bpe(df, merges, col, id_col, out)

            return _bpe
        if spec.type == "quantize":
            from mini_etl_spark.functions import similarity as sim

            vec_col = o.get("column", "embedding")
            id_col = o.get("id", "vec_id")
            levels = int(o.get("levels", 256))
            out = o.get("output", "codes")
            return lambda df: sim.quantize_embeddings(df, vec_col, id_col, levels, out)
        if spec.type == "mix":
            from mini_etl_spark.functions import mixing as mx

            budgets = {str(k): int(v) for k, v in o["budgets"].items()}
            src_col = o.get("source_column", "source")
            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            seed = int(o.get("seed", 42))
            return lambda df: mx.mix_by_token_budget(
                df, budgets, src_col, col, id_col, seed
            )
        if spec.type == "cap_per_group":
            from mini_etl_spark.functions import splits as sp

            group = o["group"]
            key = o.get("id", "doc_id")
            cap = int(o["cap"])
            seed = int(o.get("seed", 42))
            return lambda df: sp.cap_per_group(df, group, key, cap, seed)
        if spec.type == "remove_spans":
            from mini_etl_spark.functions import dedup as dd

            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            width = int(o.get("width", 8))
            cap = _parse_freq_cap(o.get("max_span_freq", 1000))
            min_run = o.get("min_run")
            min_run = None if min_run is None else int(min_run)
            return lambda df: dd.remove_duplicate_spans(
                df, width, col, id_col, cap, min_run
            )
        if spec.type == "dedup_lines":
            from mini_etl_spark.functions import text as tx

            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            return lambda df: tx.dedup_lines(df, col, id_col, o.get("output"))
        if spec.type == "strip_boilerplate":
            from mini_etl_spark.functions import text as tx

            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            frac = float(o.get("max_doc_frac", 0.3))
            min_docs = int(o.get("min_doc_count", 2))
            return lambda df: tx.strip_boilerplate_lines(
                df, col, id_col, frac, min_docs, o.get("output")
            )
        if spec.type == "dedup_paragraphs":
            from mini_etl_spark.functions import text as tx

            col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            sep = o.get("sep", "\n\n")
            min_chars = int(o.get("min_chars", 1))
            return lambda df: tx.dedup_paragraphs(
                df, col, id_col, sep, min_chars, o.get("output")
            )
        if spec.type == "expect":
            from mini_etl_spark.schema import check_expectations

            rules = o["rules"]
            on_violation = o.get("on_violation", "fail")

            def _expect(df):
                report = check_expectations(df, rules, fail=on_violation == "fail")
                if on_violation == "log":
                    bad = {
                        c: {k: n for k, n in checks.items() if n}
                        for c, checks in report.items()
                        if any(checks.values())
                    }
                    if bad:
                        logger.warning("expectation violations: %s", bad)
                return df

            return _expect
        if spec.type == "validate":
            from mini_etl_spark.operators.validate import split_valid, validate_rows

            rules = {str(k): str(v) for k, v in o["rules"].items()}
            mode = o.get("mode", "filter")
            col = o.get("violations_column", "violations")
            if mode == "label":
                return lambda df: validate_rows(df, rules, col)
            if mode == "filter":
                return lambda df: split_valid(df, rules, col)[0]
            if mode == "quarantine":
                # keep ONLY the violating rows (labeled) — pair this node
                # with a `filter`-mode branch over the same source, or use
                # split_valid directly through the DAG API.
                return lambda df: split_valid(df, rules, col)[1]
            raise ValueError(
                f"validate: mode must be label|filter|quarantine, got {mode!r}"
            )
        if spec.type == "index_dedup":
            from mini_etl_spark.functions.dedup_index import (
                fingerprint_index_filter,
                minhash_index_filter,
            )

            path = o["path"]
            append = bool(o.get("append_survivors", False))
            kind = o.get("kind", "minhash")
            if kind == "exact":
                text_col = o.get("column", "text")
                id_col = o.get("id", "doc_id")
                return lambda df: fingerprint_index_filter(
                    df, path, text_col, id_col, append
                )
            if kind == "jaccard":
                # exact THRESHOLD similarity against the persisted
                # prefix index; shingle/column config resolves from the
                # index's _JACCARD.json marker, never from the YAML
                from mini_etl_spark.functions.jaccard_index import (
                    jaccard_index_filter,
                )

                j_threshold = float(o.get("threshold", 0.5))
                j_in_batch = bool(o.get("in_batch", True))
                return lambda df: jaccard_index_filter(
                    df, path, j_threshold, append, j_in_batch
                )
            if kind != "minhash":
                raise ValueError(
                    "index_dedup: kind must be minhash|exact|jaccard, "
                    f"got {kind!r}"
                )
            threshold = float(o.get("threshold", 0.5))
            # "auto" / "auto:<budget>" = corpus-adaptive cap (skew.py)
            cap = _parse_freq_cap(o.get("max_bucket_freq", 1000))
            in_batch = bool(o.get("in_batch", True))
            return lambda df: minhash_index_filter(
                df, path, threshold, cap, append, in_batch
            )
        if spec.type == "decontaminate":
            # drop training docs that leak benchmark/eval content; the
            # benchmark is a parquet path read at run time (side input,
            # like index_dedup). method "bloom" = exact n-gram MEMBERSHIP
            # via the broadcast-bitmask screen (functions/bloom.py, GPT-3
            # recipe, default 5-grams); "containment" = n-gram coverage
            # ratio >= threshold via the inverted-index join
            # (functions/dedup.py, default 3-grams).
            bench = o.get("benchmark")
            index = o.get("index")
            if (bench is None) == (index is None):
                raise ValueError(
                    "decontaminate: exactly one of benchmark (parquet of "
                    "eval docs) or index (decontamination_index_write dir) "
                    "is required"
                )
            text_col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            method = o.get("method", "bloom")
            if index is not None:
                if method != "bloom":
                    raise ValueError(
                        "decontaminate: index= is the persisted BLOOM form; "
                        f"method {method!r} does not apply"
                    )
                from mini_etl_spark.functions.bloom import (
                    bloom_decontaminate_indexed,
                )

                return lambda df: bloom_decontaminate_indexed(
                    df, index, text_col=text_col, id_col=id_col
                )
            if method == "bloom":
                from mini_etl_spark.functions.bloom import bloom_decontaminate

                n = int(o.get("n", 5))
                # default "auto": size the filter from the measured
                # benchmark gram count (a fixed size saturates — fp -> 1 —
                # the day the benchmark outgrows it)
                n_bits = o.get("n_bits", "auto")
                if n_bits != "auto":
                    n_bits = int(float(n_bits))
                # a user-pinned hashes: is honored under auto sizing too
                # (n_bits is then sized FOR that k — bloom_parameters_for_k
                # — instead of the auto pair silently discarding it)
                hashes = o.get("hashes")
                n_hashes = "auto" if hashes is None else int(hashes)
                seed = int(o.get("seed", 42))
                return lambda df: bloom_decontaminate(
                    df,
                    df.sparkSession.read.parquet(bench),
                    text_col=text_col,
                    id_col=id_col,
                    n=n,
                    n_bits=n_bits,
                    k=n_hashes,
                    seed=seed,
                )
            if method != "containment":
                raise ValueError(
                    "decontaminate: method must be bloom|containment, "
                    f"got {method!r}"
                )
            from mini_etl_spark.functions.dedup import decontaminate

            n = int(o.get("n", 3))
            threshold = float(o.get("threshold", 0.5))
            cap = _parse_freq_cap(o.get("max_shingle_freq", 1000))
            return lambda df: decontaminate(
                df,
                df.sparkSession.read.parquet(bench),
                text_col,
                id_col,
                n,
                threshold,
                cap,
            )
        if spec.type == "drift":
            # epoch drift monitor: PSI of the flowing frame vs a BASELINE
            # parquet (side input, like decontaminate/index_dedup). The
            # node REPLACES the frame with the per-bin drift report —
            # put it on a branch/multi-sink leg, or set max_psi to fail
            # the run on a shifted distribution (the stream gate's rule:
            # an unpinned bin range comes from the baseline alone).
            from mini_etl_spark.maintenance import (
                _psi_gate,
                category_drift,
                distribution_drift,
            )

            baseline = o["baseline"]
            column = o["column"]
            mode = o.get("mode", "numeric")
            if mode not in ("numeric", "categorical"):
                raise ValueError(
                    f"drift: mode must be numeric|categorical, got {mode!r}"
                )
            bins = int(o.get("bins", 10))
            top_k = int(o.get("top_k", 20))
            lo = None if o.get("lo") is None else float(o["lo"])
            hi = None if o.get("hi") is None else float(o["hi"])
            max_psi = o.get("max_psi")
            md = o.get("max_distinct", 100_000)
            max_distinct = None if md is None else int(md)

            def _drift(df, _b=baseline, _c=column, _m=mode, _n=bins,
                       _k=top_k, _lo=lo, _hi=hi, _cap=max_psi,
                       _md=max_distinct):
                if df.isStreaming:
                    raise ValueError(
                        "drift node is batch-only (it collects a bounded "
                        "report); gate a stream per micro-batch with the "
                        "drift_gate SINK instead."
                    )
                base = df.sparkSession.read.parquet(_b)
                if _cap is not None:
                    # the gate's sum is an action and the sink is another:
                    # the report is collected once and re-created locally
                    # for the sink — nothing stays cached in a long-lived
                    # shared session (nor leaks on the raise path)
                    rows, schema = _psi_gate(
                        base, df, _c, float(_cap), "drift", _b, mode=_m,
                        bins=_n, lo=_lo, hi=_hi, top_k=_k, max_distinct=_md,
                    )
                    return df.sparkSession.createDataFrame(rows, schema)
                if _m == "categorical":
                    return category_drift(
                        base, df, _c, top_k=_k, max_distinct=_md
                    )
                return distribution_drift(
                    base, df, _c, bins=_n, lo=_lo, hi=_hi
                )

            return _drift
        if spec.type == "nb_classify":
            # score every row against a PERSISTED NB model (classify.nb_save)
            # and append (label, score); keep_label optionally filters to
            # one class — the declarative form of the quality/domain gate.
            from mini_etl_spark.functions.classify import nb_classify, nb_load

            path = o["path"]
            text_col = o.get("column", "text")
            id_col = o.get("id", "doc_id")
            keep = o.get("keep_label")

            def _nb(df, _path=path, _t=text_col, _i=id_col, _keep=keep):
                from pyspark.sql import functions as FF

                model = nb_load(df.sparkSession, _path)
                labeled = nb_classify(model, df, _t, _i)
                out = df.join(labeled, _i)
                if _keep is not None:
                    out = out.filter(FF.col("label") == _keep)
                return out

            return _nb
        if spec.type == "k_anonymize":
            from mini_etl_spark.functions.privacy import k_anonymize

            qi = list(o["quasi_identifiers"])
            k = int(o["k"])
            method = o.get("method", "suppress")
            return lambda df: k_anonymize(df, qi, k, method)
        if spec.type == "stratified_sample":
            from mini_etl_spark.functions import splits as sp

            key, strata = o["key"], o["strata"]
            fractions = {str(k): float(v) for k, v in o["fractions"].items()}
            seed = int(o.get("seed", 42))
            default = float(o.get("default_fraction", 0.0))
            return lambda df: sp.stratified_sample(
                df, key, strata, fractions, seed, default
            )
        if spec.type == "weighted_sample":
            from mini_etl_spark.functions import splits as sp

            key, weight, n = o["key"], o["weight"], int(o["n"])
            group = o.get("group")
            seed = int(o.get("seed", 42))
            return lambda df: sp.weighted_sample(df, key, weight, n, group, seed)
        if spec.type == "temperature_mix":
            from mini_etl_spark.functions import mixing as mx

            budget = int(o["budget"])
            alpha = float(o.get("alpha", 0.5))
            return lambda df: mx.temperature_mix(
                df,
                budget,
                alpha,
                source_col=o.get("source_col", "source"),
                id_col=o.get("id_col", "doc_id"),
                seed=int(o.get("seed", 42)),
                repeat=bool(o.get("repeat", True)),
            )
        raise ValueError(f"unknown transformer type {spec.type!r}")

    def _build_sink(self, spec: ComponentConfig):
        from mini_etl_spark import sinks as snk

        o = dict(spec.options)
        path = o.pop("path", o.pop("filepath", None))
        mode = o.pop("mode", o.pop("if_exists", "w"))
        if spec.type == "csv":
            return snk.to_csv(path, mode=mode, **o)
        if spec.type == "json":
            return snk.to_json(path, mode=mode, lines=o.pop("lines", False), **o)
        if spec.type == "jsonl":
            return snk.to_json(path, mode=mode, lines=True, **o)
        if spec.type == "parquet":
            return snk.to_parquet(path, mode=mode, **o)
        if spec.type == "orc":
            return snk.to_orc(path, mode=mode, **o)
        if spec.type == "excel":
            return snk.to_excel(path, **o)
        if spec.type == "xml":
            return snk.to_xml(path, mode=mode, **o)
        if spec.type == "sql":
            url = o.pop("connection_string", o.pop("url", None))
            return snk.to_jdbc(url, o.pop("table"), mode=mode, **o)
        if spec.type == "null":
            return snk.null_sink()
        if spec.type == "shards":
            ns = o.pop("num_shards", None)
            tps = o.pop("tokens_per_shard", None)
            ce = o.pop("compact_every", 64)
            return snk.to_training_shards(
                path,
                num_shards=int(ns) if ns is not None else None,
                key_col=o.pop("key", o.pop("key_col", "doc_id")),
                fmt=o.pop("format", "jsonl"),
                mode=mode,
                seed=int(o.pop("seed", 42)),
                tokens_per_shard=int(tps) if tps is not None else None,
                text_col=o.pop("text", "text"),
                compact_every=int(ce) if ce is not None else None,
                max_segments=int(o.pop("max_segments", 16)),
                **o,
            )
        if spec.type == "drift_gate":
            # declarative form of streaming.events.stream_drift_gate —
            # the streaming half of the drift story (the batch half is
            # the `drift` transformer node with max_psi + any sink).
            # Each micro-batch is PSI-gated against a persisted baseline
            # epoch; accepted batches publish exactly-once under
            # batch_id partitions, a drifted batch fails the query
            # before anything lands.
            from mini_etl_spark.streaming.events import stream_drift_gate

            _require_sink_options(
                spec.type, o, "baseline", "checkpoint", "column", "max_psi",
                path=path,
            )
            baseline = o.pop("baseline")
            checkpoint = o.pop("checkpoint")
            column = o.pop("column")
            max_psi = float(o.pop("max_psi"))
            # `mode:` is consumed above as the generic write mode; accept
            # it here when it names a gate mode, else `drift_mode:`
            gmode = o.pop(
                "drift_mode",
                mode if mode in ("numeric", "categorical") else "numeric",
            )
            bins = int(o.pop("bins", 10))
            top_k = int(o.pop("top_k", 20))
            lo = o.pop("lo", None)
            hi = o.pop("hi", None)
            report = o.pop("report", o.pop("report_path", None))
            if o:
                raise ValueError(
                    f"drift_gate sink: unknown option(s) {sorted(o)}"
                )

            def _gate(df, _p=path, _b=baseline, _cp=checkpoint, _c=column,
                      _cap=max_psi, _m=gmode, _n=bins, _k=top_k, _lo=lo,
                      _hi=hi, _r=report):
                _require_streaming_source(df, "drift_gate")
                return stream_drift_gate(
                    df, _b, _p, _cp, _c, _cap, mode=_m, bins=_n,
                    lo=None if _lo is None else float(_lo),
                    hi=None if _hi is None else float(_hi),
                    top_k=_k, report_path=_r,
                )

            return _gate
        if spec.type == "classify_gate":
            # declarative form of streaming.events.stream_classify_gate —
            # the streaming twin of the `nb_classify` transformer node:
            # every micro-batch is scored against a persisted NB model
            # and only keep_label rows publish (exactly-once, batch_id
            # partitions).
            from mini_etl_spark.streaming.events import stream_classify_gate

            if "model" not in o and "model_path" in o:
                o["model"] = o.pop("model_path")
            _require_sink_options(
                spec.type, o, "model", "checkpoint", "keep_label", path=path
            )
            model = o.pop("model")
            checkpoint = o.pop("checkpoint")
            keep = o.pop("keep_label")
            text_col = o.pop("column", o.pop("text", "text"))
            id_col = o.pop("id", "doc_id")
            if o:
                raise ValueError(
                    f"classify_gate sink: unknown option(s) {sorted(o)}"
                )

            def _cgate(df, _p=path, _m=model, _cp=checkpoint, _k=keep,
                       _t=text_col, _i=id_col):
                _require_streaming_source(df, "classify_gate")
                return stream_classify_gate(
                    df, _m, _p, _cp, keep_label=_k, text_col=_t, id_col=_i
                )

            return _cgate
        if spec.type == "lm_gate":
            # declarative form of streaming.events.stream_lm_gate — the
            # streaming twin of the `lm_score` quality filter: rows whose
            # bigram-LM perplexity exceeds max_perplexity are dropped,
            # survivors publish exactly-once under batch_id partitions.
            from mini_etl_spark.streaming.events import stream_lm_gate

            if "model" not in o and "model_path" in o:
                o["model"] = o.pop("model_path")
            _require_sink_options(
                spec.type, o, "model", "checkpoint", "max_perplexity",
                path=path,
            )
            model = o.pop("model")
            checkpoint = o.pop("checkpoint")
            max_ppl = float(o.pop("max_perplexity"))
            text_col = o.pop("column", o.pop("text", "text"))
            id_col = o.pop("id", "doc_id")
            alpha = float(o.pop("alpha", 1.0))
            if o:
                raise ValueError(
                    f"lm_gate sink: unknown option(s) {sorted(o)}"
                )

            def _lgate(df, _p=path, _m=model, _cp=checkpoint, _x=max_ppl,
                       _t=text_col, _i=id_col, _a=alpha):
                _require_streaming_source(df, "lm_gate")
                return stream_lm_gate(
                    df, _m, _p, _cp, max_perplexity=_x, text_col=_t,
                    id_col=_i, alpha=_a,
                )

            return _lgate
        raise ValueError(f"unknown sink type {spec.type!r}")


SAMPLE_CONFIG = """\
# mini-etl-spark pipeline config (⇐ reference `mini-etl init`, config.py:381-416)
name: sample_pipeline
on_error: raise

source:
  type: csv
  path: input/data.csv        # env vars work: ${DATA_DIR}/data.csv
  header: true

transformers:
  - type: filter
    condition: "value > 100"
  - type: rename
    columns: {value: amount}
  - type: cast
    columns: {amount: float}
  - type: aggregate
    group_by: [category]
    agg: {amount: [sum, mean], id: count}

sink:
  type: parquet
  path: output/result.parquet
  mode: overwrite
"""
