r"""Generic MapReduce surface (reference F3-F7) — the fidelity layer.

The reference's core feature is running arbitrary Hadoop-Streaming-style
map/reduce programs (read lines on stdin, write lines on stdout) over a
partitioned text dataset:

    map:     ``/root/reference/Worker/worker.py:72-101``  (Popen pipe :88)
    shuffle: ``/root/reference/Worker/worker.py:111-169`` (md5(key) % W :213-214)
    sort:    ``/root/reference/Worker/worker.py:179-183`` (lexicographic)
    reduce:  ``/root/reference/Worker/worker.py:173-208`` (Popen pipe :193)
    barrier scheduling: ``/root/reference/Master/master_handler.py:130-259``

Spark equivalences used here:

    map     → ``SELECT TRANSFORM(value) USING cmd`` (byte-exact external
              program; Spark SQL script transformation, no Hive)
    shuffle → ``repartition(W, substring_index(line, ',', 1))`` (key = text
              before the first ',', exactly ``Worker/worker.py:122``'s
              framing; Murmur3 hash placement)
    sort    → ``sortWithinPartitions(line)`` (lexicographic on the full
              line, matching ``data.sort()`` at ``worker.py:182``)
    reduce  → ``SELECT TRANSFORM(line) USING cmd`` over the sorted partition
    barriers→ Spark stage scheduling (automatic)

The JVM pipes rows straight to the programs: no Python worker and no
pickled row is in the data path, so the programs run on executors that do
not have this package.  ``repartition`` with an explicit count is not
coalesced by AQE, so the output has exactly W partitions (W part files).

Behaviour changes from the earlier ``rdd.pipe`` implementation:
- a program that exits non-zero fails the task and the job (``rdd.pipe``
  ignored the exit code and returned partial output);
- commands run through ``/bin/bash -c`` instead of being ``shlex``-split,
  so shell quoting applies (``shlex.quote`` paths, as the CLI does);
- commands run in the executor's ``SparkFiles`` directory, not in the
  driver's working directory, so they name programs by absolute path.

Deliberate non-reproductions (reference bugs, SURVEY.md §7):
- the fire-and-forget shuffle race (``worker.py:157-161``) — Spark's
  shuffle is ack'd;
- md5 placement parity — Murmur3 places keys on different partitions
  than md5%W, but per-key co-location (the actual contract, and
  explicitly "modular" per the spec PDF) is preserved;
- a ``\r`` inside a program's output line splits that line, as
  ``spark.read.text`` already does on input and as Hadoop Streaming does
  (the reference keeps it).

``run_inprocess`` is the same contract with Python callables instead of
programs, for users migrating reference jobs incrementally.  Its rows
cross into Python workers and back through an RDD shuffle, and each
Python task has a fixed start-up cost (``worker.py``).  Over perfbench
``verbs``' 150k lines (local[4], 4 shared vCPUs, median of 10 runs) it
took 0.45 s against ``-mr``'s 0.37 s, while every task re-read
``pyspark.zip``; with the zip guard in every map and reduce worker it
takes 0.28 s (``-mr`` 0.36 s).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from functools import partial

from pyspark.rdd import portable_hash
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yet_another_map_reduce_spark import worker


def _transform(spark: SparkSession, df: DataFrame, col: str, cmd: str, out: str) -> DataFrame:
    r"""``df.col`` piped line by line through ``cmd``; its stdout lines as
    ``out: string``.  Splitting output fields and marking nulls on a
    newline, which no line contains, keeps every line whole: Spark's
    defaults (``\x01``, ``\N``) would cut ``a\x01b`` to ``a`` and turn a
    ``\N`` line into NULL."""
    # a SQL string literal, with the braces escaped for spark.sql's formatter
    lit = "'" + cmd.replace("\\", "\\\\").replace("'", "\\'") + "'"
    lit = lit.replace("{", "{{").replace("}", "}}")
    return spark.sql(
        f"SELECT TRANSFORM({col}) USING {lit} AS ({out} STRING) "
        "ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\n' NULL DEFINED AS '\\n' "
        "FROM {df}",
        df=df,
    )


def run_streaming_job(
    spark: SparkSession,
    input_path: str,
    mapper_cmd: str,
    reducer_cmd: str,
    num_reducers: int,
    output_path: str | None = None,
) -> DataFrame:
    """Run external mapper/reducer programs byte-exactly, Hadoop-Streaming
    style (e.g. ``mapper_cmd='python /path/mapper.py'``).

    Returns the reduced lines as a ``value: string`` DataFrame; also
    writes text part-files when ``output_path`` is given (the analog of
    the reference's ``<file>_part-00000.<ext>`` output, F10).
    """
    mapped = _transform(spark, spark.read.text(input_path), "value", mapper_cmd, "line")
    # hash-partition on the key, sort lexicographically on the whole line
    # within each partition: exactly F4 + F5.
    shuffled = mapped.repartition(
        num_reducers, F.substring_index("line", ",", 1)
    ).sortWithinPartitions("line")
    out = _transform(spark, shuffled, "line", reducer_cmd, "value")
    if output_path is not None:
        out.write.mode("overwrite").text(output_path)
    return out


def run_inprocess(
    spark: SparkSession,
    input_path: str,
    mapper: Callable[[str], Iterable[str]],
    reducer: Callable[[str, Iterator[str]], Iterable[str]],
    num_reducers: int,
    output_path: str | None = None,
) -> DataFrame:
    """Same dataflow contract, in-process (no subprocess pipes).

    ``mapper(line) -> iterable of 'key,value' lines``;
    ``reducer(key, values_iterator) -> iterable of output lines`` —
    i.e. the streaming reducer's per-key-group fold with the
    sort/group bookkeeping done by the framework instead of user code.
    """
    # the worker-side steps are functions of the light ``worker`` module,
    # so every map and reduce worker imports the package when it
    # unpickles its task, which installs the zip guard there
    keyed = spark.sparkContext.textFile(input_path).flatMap(mapper).map(worker.split_key_value)
    grouped = keyed.repartitionAndSortWithinPartitions(
        numPartitions=num_reducers,
        partitionFunc=portable_hash,
    )
    reduced = grouped.mapPartitions(
        partial(worker.reduce_groups, reducer), preservesPartitioning=True
    )
    # a declared schema: no inference job
    out = spark.createDataFrame(reduced.map(lambda v: (v,)), "value string")
    if output_path is not None:
        out.write.mode("overwrite").text(output_path)
    return out
