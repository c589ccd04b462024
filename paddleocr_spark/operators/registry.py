"""Config-driven stage registry — the engine's `create_operators` analog.

The reference instantiates operators by name from YAML config
(`create_operators`, ppocr/data/imaug/__init__.py: ``eval(op_name)(**param)``;
`build_post_process`, ppocr/postprocess/__init__.py:63-116 with 34
registered names) with an implicit dict-record contract. This registry
keeps the same plugin ergonomics but with explicit DataFrame→DataFrame
stage functions and typed parameters — a stage spec is data
(name + params), a pipeline is a list of specs, and unknown names fail
fast at build time instead of at `eval` time.

Example::

    pipe = build_pipeline([
        {"op": "detect_blocks"},
        {"op": "score_blocks"},
        {"op": "filter_candidates", "det_box_thresh": 0.55},
        {"op": "merge_spans"},
        {"op": "assemble"},
    ])
    extracted = pipe(pages_df)
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paddleocr_spark.config import with_overrides
from paddleocr_spark.operators import extract as X
from paddleocr_spark.operators.detect_stage import with_blocks

Stage = Callable[[DataFrame], DataFrame]


def _detect_blocks(**params) -> Stage:
    cfg = with_overrides(params)
    return lambda df: with_blocks(df.select("url", "lang", "html"), cfg)


def _score_blocks(**params) -> Stage:
    cfg = with_overrides(params)
    return lambda df: df.withColumn("scored", X.scored_col(cfg)).withColumn(
        "n_blocks_detected", F.size("blocks")
    )


def _filter_candidates(**params) -> Stage:
    cfg = with_overrides(params)
    return lambda df: df.withColumn("dets", X._dets_col(cfg))


def _merge_spans(**params) -> Stage:
    cfg = with_overrides(params)
    return lambda df: X._merge_runs(df, cfg)


def _assemble(**params) -> Stage:
    cfg = with_overrides(params)
    return lambda df: X._assemble(df, cfg)


def _extract(**params) -> Stage:
    cfg = with_overrides(params)
    return lambda df: X.extract_fused(df, cfg)


REGISTRY: dict[str, Callable[..., Stage]] = {
    "detect_blocks": _detect_blocks,
    "score_blocks": _score_blocks,
    "filter_candidates": _filter_candidates,
    "merge_spans": _merge_spans,
    "assemble": _assemble,
    "extract": _extract,
}


def build_pipeline(spec: list[dict]) -> Stage:
    """Compose stages from a declarative spec (fail-fast on unknown
    names, like build_post_process's explicit support list)."""
    stages: list[Stage] = []
    for item in spec:
        item = dict(item)
        name = item.pop("op", None)
        if name not in REGISTRY:
            raise ValueError(
                f"unknown operator {name!r}; known: {sorted(REGISTRY)}"
            )
        stages.append(REGISTRY[name](**item))
    return lambda df: reduce(lambda d, s: s(d), stages, df)


DEFAULT_PIPELINE_SPEC: list[dict] = [
    {"op": "detect_blocks"},
    {"op": "score_blocks"},
    {"op": "filter_candidates"},
    {"op": "merge_spans"},
    {"op": "assemble"},
]
