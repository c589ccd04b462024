"""paddleocr_spark — a PySpark-native main-content extraction engine.

Re-creates the reference's staged detect→order→classify→recognize→
assemble dataflow as a DOM/byte-stream analog over Common-Crawl-style
page tables, plus the corpus-scale operator suite (dedup, similarity
search, text analysis, multimodal plumbing). See README.md, SURVEY.md
and COVERAGE.md.

A regular (non-namespace) package on purpose: zipimport — used by
``spark-submit --py-files`` and ``SparkContext.addPyFile`` — does not
resolve PEP-420 namespace packages, so executors importing this code
from a shipped zip need this file to exist.
"""

__version__ = "0.1.0"

# Public API (lazy — keep `import paddleocr_spark` lightweight and
# avoid importing pyspark until a symbol is actually used).
_PUBLIC = {
    "Extractor": ("paddleocr_spark.api", "Extractor"),
    "extract": ("paddleocr_spark.operators.extract", "extract"),
    "extract_fused": ("paddleocr_spark.operators.extract", "extract_fused"),
    "run_extract_job": ("paddleocr_spark.plans.job", "run_extract_job"),
    "build_pipeline": ("paddleocr_spark.operators.registry", "build_pipeline"),
    "get_spark": ("paddleocr_spark.session", "get_spark"),
    "PipelineConfig": ("paddleocr_spark.config", "PipelineConfig"),
}


def __getattr__(name):
    if name in _PUBLIC:
        import importlib

        mod, sym = _PUBLIC[name]
        return getattr(importlib.import_module(mod), sym)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


__all__ = sorted(_PUBLIC)
