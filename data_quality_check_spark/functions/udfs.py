"""The one vectorized pandas/Arrow UDF (SURVEY.md §2 O-10..O-13).

`pipeline_udf` is a thin Arrow boundary around
kernels/verdict.py::model_verdict, the per-row model verdict the
pandas oracle calls too: one ArrowEvalPython stage, one Python worker
per task, no per-row Python at the Spark level (BASELINE.json:15).
The scalar-iterator form touches the models (langid bigram tensor,
perplexity trigram tensor, compiled regexes) once per worker, not
once per batch.  Callers that only need some fields select them from
the struct; text-only callers bind null image columns via
`text_verdict`, which skips decode.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# StructType objects (not DDL strings): DDL parsing at decoration time
# would require an active SparkSession at import.
FULL_SCHEMA = StructType([
    StructField("lang", StringType()),
    StructField("lang_conf", DoubleType()),
    StructField("ppl", DoubleType()),
    StructField("caption_scrubbed", StringType()),
    StructField("scrub_hits", MapType(StringType(), IntegerType())),
    StructField("toxic", BooleanType()),
    StructField("pixel_ok", BooleanType()),
    StructField("psnr_db", DoubleType()),
    StructField("w_real", IntegerType()),
    StructField("h_real", IntegerType()),
    StructField("phash_real", LongType()),
])


@pandas_udf(FULL_SCHEMA)
def pipeline_udf(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """(caption, bytes, fmt, w, h, phash) -> full per-row model verdict."""
    from ..kernels.verdict import model_verdict  # models built once per worker

    for caption, blob, fmt, w, h, phash in it:
        yield model_verdict(caption, blob, fmt, w, h, phash)


def text_verdict(caption: Column) -> Column:
    """pipeline_udf over a caption alone: null image columns skip decode."""
    return pipeline_udf(caption, *(F.lit(None).cast(t) for t in
                                   ("binary", "string", "int", "int", "long")))
