"""Arrow-backed local relations.

``spark.createDataFrame(list_of_rows, schema)`` plans as ``Scan
ExistingRDD`` over pickled Python slices: at execution every slice round
trips through a Python worker (local[32] → 32 pickled round trips,
measured ~0.25-0.35 s wall PER EXECUTION of each model/grid relation,
r15 OPTIMIZATION notes §6).  Converting the rows to a ``pyarrow.Table``
first makes ``createDataFrame`` build a JVM ``LocalTableScan`` instead —
no Python workers at execution, broadcastable without running a Python
stage, ~6× faster for typical model relations (guide §4/§6 "Arrow for
driver transfers").

``local_relation`` is the shared constructor for every driver-built
model/grid/probe relation (kmeans centroids, IVF-PQ sidecar models,
classifier trajectories, threshold grids, heavy-hitter candidates).  It
is semantics-preserving by construction: on an Arrow conversion
failure (exotic types, overflow, ragged rows — raised as ImportError,
TypeError, ValueError or an ``ArrowException``) it falls back to the
plain ``createDataFrame`` path, and doubles/longs/strings/arrays pass
through Arrow bit-exactly (pinned by ``test_local_relation_matches_
plain_createdataframe``).  Any other error is a defect and propagates.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_relation(spark: SparkSession, rows, schema) -> DataFrame:
    """Local DataFrame from driver-side ``rows`` (tuples or Rows) that
    plans as a JVM ``LocalTableScan`` via Arrow whenever the schema and
    values allow, with a transparent fallback to the classic pickled
    path.  ``schema`` is a DDL string or ``StructType``."""
    data = rows if isinstance(rows, list) else list(rows)
    try:
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import _parse_datatype_string

        st = (
            schema
            if isinstance(schema, StructType)
            else _parse_datatype_string(schema)
        )
        arrow_schema = to_arrow_schema(st)
        if data and not isinstance(data[0], (tuple, list)):
            # dict rows would transpose into their KEYS; Row is a tuple
            # subclass so the collect()-row case stays on the fast path
            return spark.createDataFrame(data, schema)
        cols = list(zip(*data)) if data else [[] for _ in arrow_schema]
        arrays = [
            pa.array(list(c), type=f.type)
            for c, f in zip(cols, arrow_schema)
        ]
        tbl = pa.Table.from_arrays(arrays, schema=arrow_schema)
        return spark.createDataFrame(tbl, schema=st)
    except (ImportError, TypeError, ValueError, pa.ArrowException):
        return spark.createDataFrame(data, schema)
