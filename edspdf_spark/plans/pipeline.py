"""Declarative pipeline construction (≙ reference registry/config, X8).

The reference resolves INI configs through a catalogue registry into a
``Pipeline`` of ``PDFDoc → PDFDoc`` pipes (``edspdf/pipeline.py:453-544``,
``edspdf/registry.py:40-224``). Here a pipeline is a plain list of
``(factory_name, kwargs)`` stages resolved from a dict — each factory is a
``DataFrame → DataFrame`` transformation, so composing the pipeline only
builds ONE Catalyst logical plan; nothing executes until an action.

Example::

    pipe = Pipeline.from_config({
        "pipeline": ["extractor", "classifier", "aggregator"],
        "components": {
            "extractor": {"@factory": "extractor", "extract_style": True},
            "classifier": {"@factory": "mask-classifier",
                            "x0": 0.2, "y0": 0.3, "x1": 0.9, "y1": 0.6,
                            "threshold": 0.1},
            "aggregator": {"@factory": "simple-aggregator"},
        },
    })
    aggregates = pipe(pages_df)
"""

from __future__ import annotations

import json
from typing import Callable, Dict, List, Tuple

from pyspark.sql import DataFrame


def _extractor(df: DataFrame, extract_style: bool = True, **_):
    from edspdf_spark.operators.extract import extract_blocs

    return extract_blocs(df, extract_style=extract_style)


def _mask_classifier(df: DataFrame, x0=0.0, y0=0.0, x1=1.0, y1=1.0, threshold=1.0, **_):
    from edspdf_spark.operators.classify import simple_mask_classifier

    return simple_mask_classifier(df, x0, y0, x1, y1, threshold=threshold)


def _multi_mask_classifier(df: DataFrame, threshold=1.0, **masks):
    from edspdf_spark.operators.classify import classify_mask

    boxes = [
        (m.get("label", name), m["x0"], m["y0"], m["x1"], m["y1"])
        for name, m in masks.items()
    ]
    return classify_mask(df, boxes, threshold=threshold)


def _dummy_classifier(df: DataFrame, label: str = "body", **_):
    from edspdf_spark.operators.classify import classify_dummy

    return classify_dummy(df, label)


def _random_classifier(df: DataFrame, labels=None, seed: int = 0, **_):
    from edspdf_spark.operators.classify import classify_random_hash

    return classify_random_hash(df, labels or ["body", "pollution"], salt=seed)


def _simple_aggregator(
    df: DataFrame,
    sort: bool = False,
    new_line_threshold: float = 0.2,
    new_paragraph_threshold: float = 1.5,
    label_map=None,
    **_,
):
    from edspdf_spark.operators.aggregate import aggregate_simple

    return aggregate_simple(
        df,
        sort=sort,
        new_line_threshold=new_line_threshold,
        new_paragraph_threshold=new_paragraph_threshold,
        label_map=label_map,
    )


def _markdown_aggregator(df: DataFrame, **kw):
    from edspdf_spark.operators.aggregate import aggregate_markdown

    return aggregate_markdown(df, **{k: v for k, v in kw.items() if k != "name"})


def _html_extractor(
    df: DataFrame,
    min_words: int = 3,
    max_link_density: float = 0.4,
    context_sensitive: bool = False,
    good_words: int = 8,
    **_,
):
    from edspdf_spark.operators.extract_html import extract_blocs_html

    return extract_blocs_html(
        df,
        min_words=min_words,
        max_link_density=max_link_density,
        context_sensitive=context_sensitive,
        good_words=good_words,
    )


def _fused_pipeline(df: DataFrame, masks=None, threshold: float = 1.0, **kw):
    from edspdf_spark.operators.fused import run_pipeline_fused

    boxes = [
        (m.get("label", name), m["x0"], m["y0"], m["x1"], m["y1"])
        for name, m in (masks or {}).items()
    ] or [("body", 0.0, 0.0, 1.0, 1.0)]
    return run_pipeline_fused(
        df, boxes, threshold=threshold, **{k: v for k, v in kw.items() if k != "name"}
    )


def _box_layout_embedding(df: DataFrame, n_positions=64, size=24, seed=7, **_):
    from edspdf_spark.ml.embeddings import box_layout_embedding

    return box_layout_embedding(df, n_positions=n_positions, size=size, seed=seed)


def _simple_text_embedding(df: DataFrame, size=16, text_col="text", **_):
    # reshapes blocs → one row per token, like the reference's per-word
    # folded tensors (simple_text_embedding.py:198-233)
    from edspdf_spark.ml.embeddings import simple_text_embedding, simple_text_features

    keep = [c for c in ("url", "page_num", "bloc_ord") if c in df.columns]
    return simple_text_embedding(
        simple_text_features(df, text_col=text_col, keep_cols=keep), size=size
    )


def _sub_box_cnn_pooler(df: DataFrame, out_channels=16, output_size=16, in_dim=16, **_):
    from edspdf_spark.ml.embeddings import cnn_pool_embeddings

    keep = [c for c in ("url", "page_num", "bloc_ord") if c in df.columns]
    return cnn_pool_embeddings(
        df, group_cols=keep, in_dim=in_dim,
        out_channels=out_channels, output_size=output_size,
    )


def _box_transformer(df: DataFrame, dim=24, n_heads=4, n_layers=1, **_):
    from edspdf_spark.ml.embeddings import box_transformer_embedding

    return box_transformer_embedding(df, dim=dim, n_heads=n_heads, n_layers=n_layers)


def _quality_gate(
    df: DataFrame,
    min_len: int = 0,
    max_dup_word_fraction: float = 1.0,
    min_stopword_ratio: float = 0.0,
    langs=None,
    redact_pii: bool = False,
    text_col: str = "text",
    **_,
):
    """C4/Gopher-style corpus gate as a config stage: length + duplicate-word
    + stopword-ratio + language filters (all pure scan-stage projections, so
    Catalyst pushes the survivors' predicate straight onto the scan), with
    optional PII redaction of the text column. Chains the real quality/text
    operators — the config form of the training_prep front half."""
    from pyspark.sql import functions as F

    from edspdf_spark.functions.quality import redact_pii as _redact
    from edspdf_spark.functions.quality import with_array_repetition
    from edspdf_spark.functions.text import with_lang_guess, with_quality

    out = with_array_repetition(
        with_lang_guess(with_quality(df, text_col=text_col), text_col=text_col),
        text_col=text_col,
    )
    cond = (
        (F.col("doc_len") >= min_len)
        & (F.col("dup_word_fraction") <= max_dup_word_fraction)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
    )
    if langs:
        cond = cond & F.col("lang_guess").isin(list(langs))
    out = out.filter(cond).select(*df.columns)
    if redact_pii:
        out = out.withColumn(text_col, _redact(F.col(text_col)))
    return out


def _blocklist_gate(df: DataFrame, words=(), text_col: str = "text", **_):
    """C4 §2.2 badword page drop as a config stage (functions/quality.py
    blocklist_filter — the list ships in the plan, zero joins)."""
    from edspdf_spark.functions.quality import blocklist_filter

    return blocklist_filter(df, list(words), text_col=text_col)


def _temperature_mix_stage(
    df: DataFrame,
    target_tokens: int = 1_000_000,
    alpha: float = 0.3,
    max_epochs: float = 4.0,
    lang_col: str = "lang",
    token_col: str = "n_tokens",
    key_col: str = "doc_id",
    seed: int = 0,
    **_,
):
    """mC4 α-temperature language rebalancing as a config stage
    (functions/quality.py temperature_mix — zero corpus shuffle)."""
    from edspdf_spark.functions.quality import temperature_mix

    return temperature_mix(
        df,
        target_tokens,
        alpha=alpha,
        max_epochs=max_epochs,
        lang_col=lang_col,
        token_col=token_col,
        key_col=key_col,
        seed=seed,
    )


def _latest_revision_stage(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
    **_,
):
    """Recrawl dedup as a config stage: keep each URL's newest fetch
    (struct-max winners semi-joined back onto the corpus)."""
    from pyspark.sql import functions as F

    from edspdf_spark.functions.dedup import keep_latest_revision

    keep = keep_latest_revision(
        df, url_col=url_col, ts_col=ts_col, id_col=id_col
    ).select(F.col("keep_id").alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


FACTORIES: Dict[str, Callable] = {
    "extractor": _extractor,
    "pdfminer-extractor": _extractor,  # reference name, same payload parser
    "html-extractor": _html_extractor,
    "fused-pipeline": _fused_pipeline,
    "mask-classifier": _mask_classifier,
    "multi-mask-classifier": _multi_mask_classifier,
    "dummy-classifier": _dummy_classifier,
    "random-classifier": _random_classifier,
    "simple-aggregator": _simple_aggregator,
    "markdown-aggregator": _markdown_aggregator,
    # embedding stack (reference registry names, pipes/embeddings/*)
    "box-layout-embedding": _box_layout_embedding,
    "simple-text-embedding": _simple_text_embedding,
    "sub-box-cnn-pooler": _sub_box_cnn_pooler,
    "box-transformer": _box_transformer,
    # training-data corpus gate (quality/PII family, functions/quality.py)
    "quality-gate": _quality_gate,
    "blocklist-gate": _blocklist_gate,
    "temperature-mix": _temperature_mix_stage,
    "latest-revision": _latest_revision_stage,
}


class Pipeline:
    """Ordered, named DataFrame→DataFrame stages.

    Config round-trip parity with the reference's ``edspdf.load`` /
    ``Pipeline.to_disk`` UX (``pipeline.py:925-1021,707-814``): a pipeline
    built ``from_config`` serializes back with :meth:`to_config` /
    :meth:`to_disk` and reloads with :func:`load` — the artifact is a plain
    JSON config (factory names + kwargs), shippable to executors via
    ``spark-submit --py-files`` alongside the package. (Trained forest
    models are NOT part of the config artifact — they ride the UDF closure;
    the reference's safetensors weight files are the analogue.)"""

    def __init__(
        self,
        stages: List[Tuple[str, Callable, dict]],
        factory_names: List[str] = None,
    ):
        self.stages = stages
        self.factory_names = factory_names or [None] * len(stages)
        self._disabled: set = set()

    @classmethod
    def from_config(cls, config: dict) -> "Pipeline":
        names = config["pipeline"]
        comps = config["components"]
        stages = []
        factory_names = []
        for name in names:
            c = dict(comps[name])
            factory = c.pop("@factory")
            if factory not in FACTORIES:
                raise KeyError(
                    f"unknown factory {factory!r}; known: {sorted(FACTORIES)}"
                )
            stages.append((name, FACTORIES[factory], c))
            factory_names.append(factory)
        return cls(stages, factory_names)

    @classmethod
    def from_json(cls, path: str) -> "Pipeline":
        with open(path) as f:
            return cls.from_config(json.load(f))

    def to_config(self) -> dict:
        """Inverse of :meth:`from_config` (raises for hand-built pipelines
        whose stages never came from a registered factory)."""
        comps = {}
        for (name, _, kwargs), factory in zip(self.stages, self.factory_names):
            if factory is None:
                raise ValueError(
                    f"stage {name!r} was not built from a registered factory; "
                    "cannot serialize"
                )
            comps[name] = {"@factory": factory, **kwargs}
        return {"pipeline": [s[0] for s in self.stages], "components": comps}

    def to_disk(self, path: str) -> None:
        """Write the config artifact (``<path>/config.json``)."""
        import os

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "config.json"), "w") as f:
            json.dump(self.to_config(), f, indent=1, sort_keys=True)

    def disable(self, *names: str) -> "Pipeline":
        self._disabled.update(names)
        return self

    def __call__(self, df: DataFrame) -> DataFrame:
        for name, fn, kwargs in self.stages:
            if name in self._disabled:
                continue
            df = fn(df, **kwargs)
        return df


def load(path: str) -> Pipeline:
    """≙ ``edspdf.load`` (reference ``pipeline.py:925-1021``): accept a
    config dict, a ``config.json`` file path, or a ``to_disk`` directory."""
    import os

    if isinstance(path, dict):
        return Pipeline.from_config(path)
    if os.path.isdir(path):
        return Pipeline.from_json(os.path.join(path, "config.json"))
    return Pipeline.from_json(path)
