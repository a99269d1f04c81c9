"""CLI facade over the engine, mirroring the reference client's three
verbs (``/root/reference/Client/client.py:47-71`` — flags ``-w``,
``-r``, ``-mr``), so a user of the reference can run the same commands
against this repo:

    python -m yet_another_map_reduce_spark -w  <file> [--name N]
    python -m yet_another_map_reduce_spark -r  <name> [--out FILE]
    python -m yet_another_map_reduce_spark -mr <input> <mapper.py> <reducer.py>
           [--reducers K] [--output DIR]

Verb-by-verb mapping to the reference:

- ``-w`` (``client.py:114``): the reference splits the file line-wise
  across HTTP workers and POSTs a manifest to the master.  Here: a
  partitioned text write through :class:`Catalog` (F1), which registers
  name→(path, format) — the manifest analog.  The dataset name defaults
  to the filename without extension, exactly the reference's key.
- ``-r`` (``client.py:73``): the reference fans out chunk fetches,
  merges, SORTS the merged lines, prints them, and saves a local copy.
  Here: catalog-resolved scan (F2) collected through Arrow, sort, stdout
  print, optional ``--out`` file.
- ``-mr`` (``client.py:126``): the reference ships mapper.py/reducer.py
  to workers and runs map → hash shuffle → sort → reduce (F3-F6).
  Here: :func:`run_streaming_job` pipes the UNMODIFIED external
  programs through the same dataflow as Spark SQL script transformations
  (the JVM feeds the programs directly; no Python worker, so workers need
  no copy of this package), and writes reference-style text part-files
  when ``--output`` is given.

The catalog root defaults to ``./.yamr_catalog`` (override with
``--catalog``); ``-w`` stores data under ``<catalog>/data/<name>``.
"""

from __future__ import annotations

import argparse
import os
import shlex
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m yet_another_map_reduce_spark",
        description=__doc__.split("\n\n")[0],
    )
    p.add_argument(
        "--catalog",
        default=".yamr_catalog",
        help="catalog root (name->path registry + default data root)",
    )
    sub = p.add_subparsers(dest="verb", required=True)

    w = sub.add_parser("w", help="write+register a file (reference -w)")
    w.add_argument("file")
    w.add_argument("--name", default=None, help="dataset name (default: file stem)")
    w.add_argument("--partitions", type=int, default=3, help="part-file count")

    r = sub.add_parser("r", help="read a dataset, sorted, to stdout (reference -r)")
    r.add_argument("name")
    r.add_argument("--out", default=None, help="also save merged output to this file")

    mr = sub.add_parser("mr", help="run an external map-reduce job (reference -mr)")
    mr.add_argument("input")
    mr.add_argument("mapper")
    mr.add_argument("reducer")
    mr.add_argument("--reducers", type=int, default=3)
    mr.add_argument("--output", default=None, help="text part-file output dir")
    return p


def _python_cmd(script: str) -> str:
    # programs run in the executor's SparkFiles directory, not in the
    # driver's working directory: name the script by its absolute path
    return f"{shlex.quote(sys.executable)} {shlex.quote(os.path.abspath(script))}"


def main(argv: list[str] | None = None, spark=None) -> int:
    from yet_another_map_reduce_spark.sources.catalog import Catalog

    argv = list(sys.argv[1:] if argv is None else argv)
    # the reference spells its verbs -w/-r/-mr (client.py:47); accept
    # those verbatim (in any position — global flags may precede the
    # verb) by stripping the dash before argparse sees them
    argv = [a[1:] if a in ("-w", "-r", "-mr") else a for a in argv]
    args = _build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from yet_another_map_reduce_spark.session import build_session

        spark = build_session(app_name="yamr-cli")
    try:
        catalog = Catalog(args.catalog)
        if args.verb == "w":
            name = args.name or os.path.splitext(os.path.basename(args.file))[0]
            if not os.path.exists(args.file):
                print(f"File Invalid: {args.file}", file=sys.stderr)
                return 2
            df = spark.read.text(args.file)
            catalog.write(
                df,
                name,
                os.path.join(args.catalog, "data", name),
                fmt="text",
                num_partitions=args.partitions,
            )
            print(f"WRITE COMPLETE: {name}")
        elif args.verb == "r":
            # accept a bare filename too ('data.txt' -> 'data'), like
            # the reference's filename.split('.')[0]
            from yet_another_map_reduce_spark.sources.catalog import (
                DatasetNotFound,
            )

            name = args.name
            try:
                catalog.resolve(name)
            except DatasetNotFound:
                name = os.path.splitext(os.path.basename(name))[0]
            try:
                df = catalog.read(spark, name)
            except DatasetNotFound:
                print(
                    f"Dataset not found in catalog {args.catalog}: "
                    f"{args.name}",
                    file=sys.stderr,
                )
                return 2
            # collected as one Arrow column: no per-row unpickling
            lines = sorted(df.toArrow().column(0).to_pylist())
            data = "\n".join(lines)
            if args.out:
                with open(args.out, "w") as fh:
                    fh.write(data + "\n")
            print(data)
        else:  # mr
            from yet_another_map_reduce_spark.operators.mapreduce import (
                run_streaming_job,
            )

            out_dir = args.output
            if out_dir is None:
                stem, ext = os.path.splitext(os.path.basename(args.input))
                out_dir = f"{stem}_out{ext or ''}"
            run_streaming_job(
                spark,
                input_path=args.input,
                mapper_cmd=_python_cmd(args.mapper),
                reducer_cmd=_python_cmd(args.reducer),
                num_reducers=args.reducers,
                output_path=out_dir,
            )
            print("MAP REDUCE TASK COMPLETE")
            print("--------------")
            print("FILE SAVED AS : ")
            print(out_dir)
            print("--------------")
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
