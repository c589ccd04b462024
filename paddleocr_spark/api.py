"""User-facing engine facade — the `PaddleOCR(lang=...)` / `.ocr(img,
det=, rec=)` API re-expressed over DataFrames.

Mirrors the reference's library surface (paddleocr.py:607-672
``PaddleOCR.__init__`` with ``parse_lang`` config resolution :407-544,
and :674-762 ``ocr(img, det=True, rec=True, cls=True)`` with its
det-only / rec-only modes) so a reference user can switch call-for-call:

    engine = Extractor(lang="ar", det_box_thresh=0.55)
    full   = engine(pages_df)                    # detect + recognize
    blocks = engine(pages_df, rec=False)         # det-only: scored blocks
    texts  = engine(blocks_df, det=False)        # rec-only: merge+assemble
                                                  # (input already has dets)

Language presets play the `parse_lang` role: they resolve to a
PipelineConfig, not a model file — the discrete analog of picking the
lang-specific recognizer. Explicit kwargs override the preset, exactly
like the reference's CLI flags override the resolved model config.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from paddleocr_spark.config import with_overrides
from paddleocr_spark.operators import extract as X

# parse_lang analog (paddleocr.py:407-544): lang -> config preset.
# RTL handling itself is data-driven (the `lang` COLUMN gates the
# reverse, operators/extract._flip_cond), so presets only carry
# threshold/segmentation differences.
LANG_PRESETS: dict[str, dict] = {
    "en": {},
    "es": {},
    "de": {},
    "fr": {},
    # CJK pages have denser short blocks: keep shorter blocks.
    "zh": {"min_text_len": 1},
    # RTL corpora: same thresholds; the flip is per-row on lang.
    "ar": {},
}


class Extractor:
    """DataFrame-native `PaddleOCR` analog. Stateless and serializable:
    holds only a PipelineConfig."""

    def __init__(self, lang: str = "en", **overrides):
        if lang not in LANG_PRESETS:
            raise ValueError(
                f"unsupported lang {lang!r}; known: {sorted(LANG_PRESETS)}"
            )
        self.lang = lang
        self.cfg = with_overrides({**LANG_PRESETS[lang], **overrides})

    def __call__(self, df: DataFrame, det: bool = True, rec: bool = True) -> DataFrame:
        """ocr(img, det, rec) analog (paddleocr.py:674-762).

        det & rec  -> full extraction (url, extracted_text, spans, ...)
        det only   -> scored+filtered candidate blocks (`dets` array)
        rec only   -> merge+assemble over an input that already carries
                      `dets` (the det-only output), like feeding boxes
                      straight to the recognizer.
        """
        if det and rec:
            return X.extract_fused(df, self.cfg)
        if det:
            return X.detect(df, self.cfg).drop("blocks", "scored")
        if rec:
            if "dets" not in df.columns:
                raise ValueError("rec-only input must carry a 'dets' column (det-only output)")
            d = X._merge_runs(df, self.cfg)
            return X._assemble(d, self.cfg)
        raise ValueError("at least one of det/rec must be True")
