"""The package's Python stages, Arrow-native (no pandas): every column
UDF is `batch_map`, an iterator Arrow UDF over a per-batch
`list -> list` function (plan node ArrowEvalPython), and every
mapInArrow stage builds its batches against `arrow_schema`."""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type


def batch_map(factory: Callable[[], Callable[[list], list]], return_type: T.DataType):
    """A UDF that calls `factory()` once per task's batch iterator (so a
    model or compiled pattern loads once per partition) and maps each
    batch's `to_pylist()` rows through the function it returns, building
    the result as one array of exactly `to_arrow_type(return_type)` (a
    struct value as a tuple in field order, or a dict). Multi-column
    stages pass `F.struct(...)` and get each row as a dict."""
    arrow_type = to_arrow_type(return_type)

    @F.arrow_udf(return_type)
    def stage(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        fn = factory()
        for batch in batches:
            yield pa.array(fn(batch.to_pylist()), type=arrow_type)

    # Every kernel here is deterministic, but Catalyst treats
    # deterministic UDFs as free to duplicate: a filter on a UDF-derived
    # column gets pushed below the projection and the plan grows a
    # second ArrowEvalPython node (the corpus extracted twice). Marking
    # the stage nondeterministic pins one evaluation per row
    # (tests/test_pipeline_spark.py asserts the single node).
    return stage.asNondeterministic()


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema a mapInArrow function yields for a Spark DDL
    schema: mapInArrow does not cast, so each batch is built with exactly
    these types (`pa.RecordBatch.from_pylist(rows, schema=...)`)."""
    return to_arrow_schema(T.StructType.fromDDL(ddl))
