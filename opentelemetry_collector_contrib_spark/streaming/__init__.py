from .pipeline import (  # noqa: F401
    run_available_now,
    streaming_dedup,
    streaming_recombine,
    streaming_windowed_counts,
    transcripts_stream,
)
