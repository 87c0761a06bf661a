"""Driver-harness compatibility guard (a standing repo rule):
no registered query may output array/map/struct-typed columns — the
differential driver canonicalizes results through pandas
``sort_values``, which crashes on unhashable list cells
(CORRECTNESS_r02: ``embedding_quantize``, ``media_decode_features``).
Complex values must be stringified (concat_ws) or exploded to rows
before leaving a query. The check inspects schemas only, but
building a "plan" is not free for every query: the streaming
queries run their micro-batch job to completion (the result exists
only materialized from the memory sink) and the IVF queries run
bounded collect()s (centroid fit) during construction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from gerrydb_etl_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE

FORBIDDEN = (T.ArrayType, T.MapType, T.StructType)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_complex_typed_output_columns(spark, name):
    df = REGISTRY[name].spark(spark, SF_SMOKE)
    bad = [
        f.name for f in df.schema.fields if isinstance(f.dataType, FORBIDDEN)
    ]
    assert not bad, (
        f"{name}: complex-typed output columns {bad} — the driver "
        "canonicalizer cannot hash them; stringify or explode"
    )
