"""Scalar/array function library + training-data pipeline operators.

The reference's scalar-function surface (SURVEY.md §2.8) plus the
large-scale training-data operators a 100 TB corpus pipeline needs:
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard),
similarity search (brute-force + LSH-bucketed ANN), text analysis
(language-ID, quality scoring, token counting, fingerprinting), and
multimodal metadata (binary payload -> typed header fields).

Everything here is native `pyspark.sql.functions` expressions (JVM-side,
whole-stage codegen) except the multimodal header decoders, which run in
Arrow-batched `mapInPandas`.
"""
