"""Distributed scans (reference F2 "READ" → Spark readers).

The reference's READ verb fetches every partition of a named text file
over HTTP, merges, and globally sorts (``/root/reference/Client/client.py:74-112``).
In Spark the transfer/merge plumbing is the scheduler's job; a scan is a
declarative ``spark.read`` so Catalyst can push filters and prune columns
down to the format (parquet row-group/page pruning at scale).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as papq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
)

#: Canonical test-table names (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    sep: str = ",",
    header: bool = False,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Delimited scan. ``sep='\\t'`` + an explicit schema reproduces the
    reference's implied TSV transactions table (``mapper.py:4-5``) with
    real types instead of opaque lines."""
    reader = spark.read.option("sep", sep).option("header", header).option("mode", mode)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
) -> tuple[DataFrame, DataFrame]:
    """JSONL ingest with an explicit quarantine split — the web-crawl
    reality at 100 TB: malformed lines and type-drifted fields must
    neither kill the job (FAILFAST) nor silently vanish (DROPMALFORMED);
    they land in a quarantine relation for triage, like the multimodal
    codecs' hostile-blob contract.

    One PERMISSIVE scan with ``columnNameOfCorruptRecord``; returns
    ``(good, quarantined)``:

    - ``good``: rows that parsed fully, exactly the given schema;
    - ``quarantined``: rows Spark flagged (unparseable line OR any
      type-drifted field), as the schema's columns (whatever partially
      parsed, rest NULL) plus ``raw_line`` — the verbatim input text.

    ``schema`` is REQUIRED: inference would scan the corpus twice and
    re-resolve drifted types per run.

    Implementation note: this is a TEXT scan + ``from_json`` with a
    corrupt-record field, NOT ``spark.read.json`` with
    ``columnNameOfCorruptRecord`` — the native reader's internal
    corrupt column carries a planner restriction
    (``UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN``) that
    breaks ``count()``/any fully-pruned plan over the quarantine side;
    a computed struct has no such restriction, parses with the same
    Jackson parser, and keeps both halves lazy single-scan filters —
    no caching, no second pass.
    """
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if "_corrupt_record" in schema.fieldNames():
        raise ValueError("schema must not declare _corrupt_record itself")
    if "raw_line" in schema.fieldNames():
        # the quarantined frame appends a verbatim `raw_line` column; a
        # schema field of the same name would yield a duplicate-named
        # column (AMBIGUOUS_REFERENCE downstream, unreadable parquet)
        raise ValueError("schema must not declare raw_line itself")
    # a NEW StructType — StructType.add mutates in place, which would
    # leak _corrupt_record into the caller's schema object (and into
    # both returned frames' projections)
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = spark.read.text(path).select(
        F.col("value").alias("__raw"),
        F.from_json(
            F.col("value"),
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("__r"),
    )
    # getField, not F.col(f"__r.{name}"): a dotted (or backticked) JSON
    # key — routine in web-crawl JSONL — parses as a nested path in the
    # string form and fails with FIELD_NOT_FOUND
    is_bad = (
        F.col("__r").isNull()
        | F.col("__r").getField("_corrupt_record").isNotNull()
    )
    good = parsed.where(~is_bad).select(
        *[F.col("__r").getField(f.name).alias(f.name) for f in schema.fields]
    )
    quarantined = parsed.where(is_bad).select(
        *[F.col("__r").getField(f.name).alias(f.name) for f in schema.fields],
        F.col("__raw").alias("raw_line"),
    )
    return good, quarantined


_NANOS_CONF_LOCK = __import__("threading").Lock()


def _footer_schema(path: str) -> pa.Schema | None:
    """Arrow schema from the parquet footer of ``path`` (a file, or the
    first ``.parquet`` part of a directory) — the one footer read behind
    both :func:`read_table`'s declared schema and the NANOS check.
    ``None`` when there is no footer to read, so the caller can leave
    the path (and its error) to Spark."""
    p = path
    if os.path.isdir(p):
        parts = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        if not parts:
            return None
        p = os.path.join(p, parts[0])
    try:
        return papq.read_schema(p)
    except OSError:
        return None


def _events_ts_is_nanos(footer: pa.Schema) -> bool:
    """True iff the footer stores ``ts`` as TIMESTAMP(NANOS)."""
    i = footer.get_field_index("ts")
    return i >= 0 and str(footer.field(i).type) == "timestamp[ns]"


def _spark_schema(footer: pa.Schema) -> StructType:
    """The schema Spark's parquet inference would give: timestamps
    without a timezone are TIMESTAMP_NTZ (``prefer_timestamp_ntz``;
    without it ``o_orderdate``/``l_shipdate`` come out as TIMESTAMP) and
    every field is nullable, as Spark reads every parquet column."""
    return StructType(
        [
            StructField(f.name, f.dataType, True, f.metadata)
            for f in from_arrow_schema(footer, prefer_timestamp_ntz=True).fields
        ]
    )


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one canonical test table from a scale-factor directory.

    The schema comes from the parquet footer via pyarrow and is passed
    to ``spark.read.schema(...)``, so the read launches NO Spark job.
    Inference (``spark.read.parquet`` without a schema) is one job per
    call, and every query reads through here: in a traced perfbench
    curation pass (sf0.01, local[4], 4 shared vCPUs) the three reads
    took 0.27 s and 3 of the pass's 13 construction jobs, and with the
    footer schema 0.04 s and none.  The footer schema equals Spark's
    inferred one for every table of every test scale factor (pinned in
    tests/test_sources.py).  The footer is read on every call,
    deliberately uncached: a regenerated file is picked up without any
    invalidation.

    ``events.parquet``'s ``ts`` physical type has varied across testdata
    generations (TIMESTAMP(NANOS), plain µs TIMESTAMP without timezone);
    normalize every layout to a session-UTC TIMESTAMP so downstream
    epoch arithmetic (``ts.cast('long')``) and the DuckDB oracles see
    identical wall-clock instants regardless of which generation is on
    disk.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = _footer_schema(path)
    if footer is None:
        return spark.read.parquet(path)
    # Only flip the session-global nanosAsLong when the file genuinely
    # is TIMESTAMP(NANOS), and let Spark infer under the flip.  The
    # flip races concurrent parquet reads on the same session (another
    # thread's NANOS read in the window silently infers bigint), so:
    # (a) on the common µs-physical generation no flip ever happens and
    # there is no window at all; (b) on a NANOS generation the flip is
    # serialized by a module lock against our own concurrent
    # read_table calls, with the residual cross-reader window
    # documented here.  NOT spark.newSession(): a cloned session would
    # dodge the race but pins every events-derived plan to the clone's
    # conf, silently ignoring the caller's runtime conf changes
    # (broadcast thresholds, AQE knobs) for those plans.
    if name == "events" and _events_ts_is_nanos(footer):
        with _NANOS_CONF_LOCK:
            prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            try:
                df = spark.read.parquet(path)  # schema resolved eagerly
            finally:
                if prev is None:
                    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
                else:
                    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    else:
        df = spark.read.schema(_spark_schema(footer)).parquet(path)
    if name != "events":
        return df
    if isinstance(df.schema["ts"].dataType, LongType):
        # exact FLOOR division in bigint: `div` truncates toward zero,
        # which shifts every pre-1970 non-whole-microsecond nanosecond
        # instant +1 µs vs the oracle's floor-based epoch arithmetic;
        # float division would lose precision above 2^53 outright
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000")),
        )
    elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
        # session tz is pinned UTC (session.py), so this reinterprets the
        # stored wall clock as the same UTC instant the nanos path built;
        # NTZ also rejects cast-to-long, which the epoch queries need
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load several test tables at once; keys are table names."""
    return {name: read_table(spark, sf_dir, name) for name in names}

