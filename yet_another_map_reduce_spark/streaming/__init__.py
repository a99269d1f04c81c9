"""Structured Streaming operators (ABSENT in the reference — its
"streaming" is stdin pipes, ``/root/reference/Worker/worker.py:88``).

Batch/stream parity by construction: every windowing helper takes a
DataFrame, so the SAME function body serves a ``spark.read`` batch frame
(oracle-checkable against SQL) and a ``spark.readStream`` frame
(production).  Stream-only pieces (watermark policy, stateful dedup,
sinks) live beside them.
"""

from yet_another_map_reduce_spark.streaming.windows import (
    session_windowed,
    sliding_windowed,
    tumbling_windowed,
)
from yet_another_map_reduce_spark.streaming.stateful import (
    stream_stream_interval_join,
    streaming_dedup,
    streaming_dedup_fuzzy,
)
from yet_another_map_reduce_spark.streaming.ingest import (
    compact_seen,
    ingest_batch,
    maintain_ingest,
    read_seen_pruned,
    seen_probe_paths,
    streaming_ingest_pipeline,
)
from yet_another_map_reduce_spark.streaming.sources import (
    file_stream,
    rate_stream,
    socket_stream,
)
from yet_another_map_reduce_spark.streaming.joins import foreach_batch_upsert, stream_static_enrich

__all__ = [
    "file_stream",
    "compact_seen",
    "foreach_batch_upsert",
    "ingest_batch",
    "maintain_ingest",
    "rate_stream",
    "read_seen_pruned",
    "seen_probe_paths",
    "session_windowed",
    "sliding_windowed",
    "socket_stream",
    "stream_static_enrich",
    "stream_stream_interval_join",
    "streaming_dedup",
    "streaming_dedup_fuzzy",
    "streaming_ingest_pipeline",
    "tumbling_windowed",
]
