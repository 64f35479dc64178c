"""Structured Streaming variant of the parse→enrich→route→aggregate
pipeline (the reference's native always-on dataflow mode).  The routed
stream is ``config.compile_pipeline()`` applied to
:func:`stream_transcripts`."""

from .pipeline import (  # noqa: F401
    conversation_sessions,
    stream_dedup_once,
    stream_interval_join,
    stream_tail_sample,
    stream_transcripts,
    windowed_counts,
    write_stream_sinks,
)
