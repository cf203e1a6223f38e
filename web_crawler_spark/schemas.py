"""Fixed StructTypes for the two driver-built tables the engine shares
across modules: the image+caption payload (``IMAGES``) and the parsed
robots dimension (``ROBOTS``).

The reference is schemaless-JS (arrays of plain objects, strings everywhere
— SURVEY.md §1.2); we enforce typed schemas at every boundary. The crawl's
own table schemas (frontier, delta) live with the crawl loop in
``plans/crawl.py``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- payload table (BASELINE.json input_hint, authoritative shape) --------
IMAGES = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("fetch_ok", T.BooleanType(), False),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay_s", T.DoubleType(), True),
        T.StructField("sitemaps", T.ArrayType(T.StringType()), True),
    ]
)
