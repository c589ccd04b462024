"""Stage 1: Arrow-batched pandas UDF ``html binary -> array<struct block>``.

The ONLY Python on the hot path (north_rule): one vectorized pandas UDF
per page, mirroring the reference's per-image inner loop (TextDetector
__call__, tools/infer/predict_det.py:296-395). Everything downstream is
native Spark SQL expressions (whole-stage codegen).

The per-document sequential algorithms that cannot be expressed
relationally without a per-doc shuffle — the sorted_boxes bubble pass,
the sorted_layout_boxes column state machine, merge_fragmented fixpoint,
and TableMatch — run here where the whole document is in hand, exactly
as SURVEY.md §2.3/§2.5 prescribes ("per-document joins stay inside a
pandas UDF over array columns").
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from paddleocr_spark.config import DEFAULT, PipelineConfig
from paddleocr_spark.core.tokenizer import tokenize_page

BLOCK_STRUCT = StructType(
    [
        StructField("block_id", IntegerType()),
        StructField("tag", StringType()),
        StructField("depth", IntegerType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("text", StringType()),
        StructField("text_len", IntegerType()),
        StructField("link_text_len", IntegerType()),
        StructField("branch", StringType()),
        StructField("layout", StringType()),
        StructField("parent_id", IntegerType()),
        StructField("own_text_len", IntegerType()),
        StructField("own_link_len", IntegerType()),
    ]
)
BLOCKS_TYPE = ArrayType(BLOCK_STRUCT)


def make_detect_blocks_udf(cfg: PipelineConfig = DEFAULT):
    """Build the stage-1 UDF with config captured in the closure."""

    def _detect(html: pd.Series) -> pd.Series:
        # blk.__dict__, not dataclasses.asdict: asdict deep-copies every
        # field and measured ~1.7x slower end-to-end on the UDF stage;
        # the instance dict has exactly the declared fields.
        return html.map(
            lambda b: [blk.__dict__ for blk in tokenize_page(bytes(b), cfg)]
        )

    return F.pandas_udf(_detect, BLOCKS_TYPE)


def with_blocks(df, cfg: PipelineConfig = DEFAULT, html_col: str = "html"):
    """Append the ``blocks`` array column and DROP the raw html so no
    stage after this one carries page bytes (column-pruning discipline,
    SURVEY.md §4: 'don't read html when only counting')."""
    udf = make_detect_blocks_udf(cfg)
    return df.withColumn("blocks", udf(F.col(html_col))).drop(html_col)


def register_sql(spark, name: str = "detect_blocks", cfg: PipelineConfig = DEFAULT):
    """Expose the stage-1 tokenizer on the SQL surface:

        spark.sql("SELECT url, detect_blocks(html) AS blocks FROM pages")

    — the `spark.sql` twin of `with_blocks`, for users who drive the
    engine from SQL (the reference's CLI-flag surface analog). Returns
    the registered name."""
    spark.udf.register(name, make_detect_blocks_udf(cfg))
    return name
