"""score_mode='slow' (box_score_slow analog, db_postprocess.py:206-225)
and the unclip pad."""

from __future__ import annotations

from pyspark.sql import functions as F

from paddleocr_spark.config import DEFAULT, PipelineConfig
from paddleocr_spark.core.oracle import extract_page
from paddleocr_spark.operators.extract import extract
from paddleocr_spark.operators.registry import DEFAULT_PIPELINE_SPEC, build_pipeline

SLOW = PipelineConfig(score_mode="slow")

# A div whose OWN text is almost entirely link chrome, wrapping a clean
# nested paragraph: fast mode (subtree counters) keeps it, slow mode
# (strict membership: nested block stripped) scores it on the nav chrome
# alone and drops it.
_DISAGREE_HTML = (
    "<div><a href=x>home</a> <a href=y>about</a> <a href=z>contact us</a>"
    "<p>This nested paragraph carries the actual long-form article body "
    "with plenty of clean prose to dominate the subtree counters.</p>"
    "</div>"
    "<p>An ordinary clean paragraph kept under either scoring mode.</p>"
).encode()

_PAGES = [
    ("u1", _DISAGREE_HTML, "en"),
    ("u2", b"<p>short but clean paragraph of text</p>", "en"),
    ("u3", b"<p><a href=q>only links here nothing else at all</a></p>", "en"),
]


def test_fast_and_slow_disagree_on_nav_wrapped_article():
    fast = extract_page("u1", _DISAGREE_HTML, "en", DEFAULT)
    slow = extract_page("u1", _DISAGREE_HTML, "en", SLOW)
    assert "long-form article body" in fast.extracted_text
    assert "long-form article body" not in slow.extracted_text
    assert "ordinary clean paragraph" in slow.extracted_text
    assert fast.n_blocks_kept > slow.n_blocks_kept


def test_slow_mode_spark_matches_oracle(spark):
    df = spark.createDataFrame(
        [(u, bytearray(h), l) for u, h, l in _PAGES],
        "url string, html binary, lang string",
    )
    for cfg in (DEFAULT, SLOW):
        want = {u: extract_page(u, h, l, cfg).extracted_text for u, h, l in _PAGES}
        spec = [
            {**stage, "score_mode": cfg.score_mode} for stage in DEFAULT_PIPELINE_SPEC
        ]
        for name, out in (
            ("extract", extract(df, cfg)),
            ("registry", build_pipeline(spec)(df)),
        ):
            got = {r["url"]: r["extracted_text"] for r in out.collect()}
            assert got == want, (name, cfg.score_mode)


def test_unclip_pad_widens_spans_only(spark):
    """unclip analog: spans widen by the pad (clipped to doc bounds);
    extracted text is untouched; Spark == oracle with the pad on."""
    from paddleocr_spark.core.tokenizer import tokenize_page

    html = b"<p>alpha beta gamma delta words</p><p>second paragraph here body</p>"
    base = tokenize_page(html, DEFAULT)
    padded = tokenize_page(html, PipelineConfig(unclip_pad=5))
    assert len(base) == len(padded) == 2
    assert padded[0].start == 0                       # clipped at doc start
    assert padded[0].end == base[0].end + 5
    assert padded[1].start == base[1].start - 5
    assert padded[1].end == len(html.decode())        # clipped at doc end
    assert [b.text for b in padded] == [b.text for b in base]

    cfg = PipelineConfig(unclip_pad=5)
    df = spark.createDataFrame(
        [("u", bytearray(html), "en")], "url string, html binary, lang string"
    )
    got = extract(df, cfg).collect()[0]
    want = extract_page("u", html, "en", cfg)
    assert got["extracted_text"] == want.extracted_text
    assert [tuple(s) for s in got["spans"]] == [
        (s["block_id"], s["start"], s["end"], s["score"]) for s in want.spans
    ]
