"""Operator library — SURVEY.md §2's inventory re-expressed Spark-first."""

from yet_another_map_reduce_spark.operators import (
    aggregates,
    dedup,
    joins,
    mapreduce,
    multimodal,
    similarity,
    sorts,
    text,
    windows,
)

__all__ = [
    "aggregates",
    "dedup",
    "joins",
    "mapreduce",
    "multimodal",
    "similarity",
    "sorts",
    "text",
    "windows",
]
