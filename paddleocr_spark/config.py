"""Pipeline configuration.

Thresholds mirror the reference CLI defaults (tools/infer/utility.py):
``det_db_thresh=0.3`` (utility.py:63), ``det_db_box_thresh=0.6``
(utility.py:64), ``drop_score=0.5`` (utility.py:103), ``cls_thresh=0.9``
(utility.py:125), ``max_candidates=1000`` (ppocr/postprocess/
db_postprocess.py:38), ``min_size=3`` (db_postprocess.py:50,
tools/infer/predict_det.py:196-210 side<=3 drop).

All comparisons are expressed EXACTLY the same way in the pure-Python
oracle and in the Spark-native expressions so that results are
byte-identical (IEEE-754 double arithmetic on integer inputs in both).
"""

from __future__ import annotations

from dataclasses import dataclass, fields, replace


@dataclass(frozen=True)
class PipelineConfig:
    # Stage-1 "detect" (DB postprocess analog)
    det_thresh: float = 0.3        # segmentation predicate: score > det_thresh
    det_box_thresh: float = 0.6    # keep iff score >= det_box_thresh
    min_text_len: int = 3          # drop iff raw text_len <= min_text_len
    max_candidates: int = 1000     # per-document candidate cap (document order)

    # Stage-2 "classify" (cls analog)
    cls_thresh: float = 0.9        # apply RTL flip iff p(180) > cls_thresh

    # Stage-3 "recognize" (CTC / drop_score analog)
    drop_score: float = 0.5        # drop merged spans with conf < drop_score

    # Fragment merge (tools/infer/utility.py:735-790 analog)
    merge_x_threshold: int = 10
    merge_y_threshold: int = 10

    # Giant-block chunking (strip-split / slice_generator analog,
    # tools/infer/predict_det.py:296-395, utility.py:695-732)
    chunk_limit: int = 4096        # split raw block text longer than this
    chunk_min_bound: int = 50      # MIN_BOUND_DISTANCE rollback analog
    max_slices: int = 500          # maximum_slices guard (utility.py:695-721)

    # Score formula constant: score = (text_len - link_text_len) / (text_len + SCORE_K)
    score_k: int = 8

    # `unclip` region-expansion analog (db_postprocess.py:160-166: the
    # detected polygon is dilated by area*ratio/length before cropping;
    # `expand` box pad, ppstructure/table/predict_table.py:43-55): widen
    # every emitted block span by this many chars each side, clipped to
    # the document bounds. 0 (the default) = identity — our discrete
    # spans already cover the full element, so expansion is opt-in
    # context padding (e.g. for span-crop consumers), not a correctness
    # requirement.
    unclip_pad: int = 0

    # Opt-in prefilters (paddleocr.py:717-723 bin/inv + alpha_to_color
    # utility.py:86-105, applied at the head of stage 1 exactly where
    # the reference's preprocess_image runs — inside the per-document
    # parse, shared verbatim by the pure-Python oracle):
    # - alpha: flatten the invisible layer — strip HTML comments
    #   (transparent pixels -> background color).
    # - inv:   drop struck-through content (<del>/<s>) — inverted
    #   ("negated") text treated as non-content.
    # - bin:   binarize whitespace — collapse runs of whitespace to a
    #   single space before counting (grayscale -> 2 levels).
    prefilter_alpha: bool = False
    prefilter_inv: bool = False
    prefilter_bin: bool = False

    # Opt-in declared-charset decoding (the check_and_read/img_decode
    # format-dispatch role, ppocr/utils/utility.py:108-140, applied to
    # the byte->text boundary): when True, a `charset=` declaration of
    # iso-8859-1 / latin-1 / windows-1252 in the first 1024 bytes
    # switches the decoder accordingly (cp1252 for windows-1252 — the
    # 0x80-0x9F range differs from latin-1); utf-8, unknown labels, or
    # no declaration keep the default utf-8 errors='replace' path, so
    # UTF-8 corpora are byte-identical with the flag on or off.
    charset_sniff: bool = False

    # PDF page-limit analog (paddleocr.py:710-713 -> SURVEY §2.6
    # filter(page_no < n)): process only the first `page_num` layout
    # sections ("pages") of a document; 0 = no limit.
    page_num: int = 0

    # Region scoring mode (db_postprocess.py:189-225): 'fast' scores
    # over the block's full subtree text (box_score_fast: bbox-mask
    # mean, includes nested elements), 'slow' over the element's OWN
    # text only — nested block elements' chars excluded
    # (box_score_slow: exact-polygon-mask mean, strict membership).
    score_mode: str = "fast"

    def __post_init__(self):
        # every scorer tests `== "slow"`, so any other value would
        # silently score in fast mode
        if self.score_mode not in ("fast", "slow"):
            raise ValueError(
                f"score_mode must be 'fast' or 'slow', got {self.score_mode!r}"
            )


DEFAULT = PipelineConfig()

_FIELDS = frozenset(f.name for f in fields(PipelineConfig))


def with_overrides(overrides: dict) -> PipelineConfig:
    """DEFAULT with ``overrides`` applied — the one validator shared by
    the registry, the ``Extractor`` facade and the serving endpoint. An
    unknown field name or an invalid value raises ValueError."""
    unknown = set(overrides) - _FIELDS
    if unknown:
        raise ValueError(f"unknown PipelineConfig params: {sorted(unknown)}")
    return replace(DEFAULT, **overrides)


# Whitespace class used EVERYWHERE (Python `re` and Spark/Java regex agree
# on this explicit class; bare \s differs between the two engines).
WS_CLASS = r"[ \t\n\r\f\x0b]"

# pred_reverse run class (ppocr/postprocess/rec_postprocess.py:51-65).
LATIN_RUN_CLASS = "[a-zA-Z0-9 :*./%+-]"
