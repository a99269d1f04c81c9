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

``run_inprocess`` is the idiomatic fast path: the same contract with
Python callables instead of subprocesses (no pipe / fork overhead), for
users migrating reference jobs incrementally.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.rdd import portable_hash
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _key_of(line: str) -> str:
    # the framework-imposed framing: key = text before the first comma
    # (/root/reference/Worker/worker.py:122)
    return line.split(",", 1)[0]


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
    mapped = spark.sparkContext.textFile(input_path).flatMap(mapper)

    keyed = mapped.map(lambda line: (_key_of(line), line.split(",", 1)[1] if "," in line else ""))
    grouped = keyed.repartitionAndSortWithinPartitions(
        numPartitions=num_reducers,
        partitionFunc=portable_hash,
    )

    def reduce_partition(items: Iterator[tuple[str, str]]) -> Iterator[str]:
        current_key: str | None = None
        buf: list[str] = []
        for k, v in items:
            if k != current_key:
                if current_key is not None:
                    yield from reducer(current_key, iter(buf))
                current_key, buf = k, [v]
            else:
                buf.append(v)
        if current_key is not None:
            yield from reducer(current_key, iter(buf))

    reduced = grouped.mapPartitions(reduce_partition, preservesPartitioning=True)
    # a declared schema: no inference job
    out = spark.createDataFrame(reduced.map(lambda v: (v,)), "value string")
    if output_path is not None:
        out.write.mode("overwrite").text(output_path)
    return out
