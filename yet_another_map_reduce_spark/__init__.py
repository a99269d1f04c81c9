"""yet_another_map_reduce_spark — a PySpark-native analytics engine with
the capability surface of harshapatil7/Yet-Another-Map-Reduce (see
SURVEY.md), extended with large-scale training-data-pipeline operators.

Layering:
    session    — SparkSession factory (cluster bootstrap, F8)
    sources    — readers/writers/catalog (F1, F2, F9, F10)
    operators  — relational + MapReduce-compat + pipeline extensions
    functions  — portable expression helpers (hashing, text, vectors)
    streaming  — Structured Streaming windows/state
    plans      — physical-plan assertions for scale hygiene
    worker     — what Python workers run: the zip guard, run_inprocess's fold

Importing the package imports only ``worker`` (stdlib only) and installs
its zip guard, since Spark Python workers import the package whenever
they unpickle one of its functions.  ``build_session`` is imported on
first use, so a worker does not load the session module.
"""

from yet_another_map_reduce_spark.worker import install_zip_guard

install_zip_guard()

__version__ = "0.1.0"

__all__ = ["build_session", "__version__"]


def __getattr__(name: str):
    if name == "build_session":
        from yet_another_map_reduce_spark.session import build_session

        return build_session
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
