"""The one per-image worker loop of the raster operators.

An image table holds one row per image with its encoded blob in ``bytes``.
Every operator that needs pixels runs the same map-only pass: decode each
row's blob once inside an Arrow batch and emit zero or more output rows for
that image. ``map_images`` is that pass; an operator supplies only its
per-image kernel and its output schema.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..codecs.registry import decode


def map_images(images: DataFrame, cols, schema: str, per_image) -> DataFrame:
    """Select ``cols`` (which must include ``bytes``) and ``mapInPandas``
    over them: each row's blob is decoded once and every row that
    ``per_image(arr, row)`` yields — a dict, or a tuple in schema order —
    becomes an output row of the DDL ``schema``."""
    names = StructType.fromDDL(schema).names

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [out for r in pdf.itertuples(index=False)
                 for out in per_image(decode(r.bytes), r)],
                columns=names)

    return images.select(*cols).mapInPandas(gen, schema=schema)
