"""Structured Streaming operators: sliding-window and event-time
tumbling SAX, recursive time-series monitors (EWMA, Holt, Holt-Winters,
CUSUM, MAD and rolling z-scores, Page-Hinkley, TWAP, OHLC), funnel
chains, weighted reservoir samples and cross-batch dedup. Every
stream with Python-side state keeps it through
``_util.keyed_state_stream``; the tumbling and session rollups use
Spark's own windowed-aggregation state."""

from .dedup import (
    streaming_exact_dedup,
    streaming_line_dedup,
    streaming_span_dedup,
)
from .sampling import streaming_weighted_sample
from .funnel import funnel_stream
from .sliding import sliding_sax_stream
from .timeseries import (
    cusum_stream,
    ewma_stream,
    holt_stream,
    holt_winters_stream,
    mad_zscore_stream,
    rolling_zscore_stream,
    ohlc_stream,
    page_hinkley_stream,
    twap_stream,
)
from .tumbling import tumbling_sax_event_time

__all__ = [
    "cusum_stream",
    "ewma_stream",
    "holt_stream",
    "holt_winters_stream",
    "mad_zscore_stream",
    "funnel_stream",
    "ohlc_stream",
    "page_hinkley_stream",
    "rolling_zscore_stream",
    "twap_stream",
    "sliding_sax_stream",
    "streaming_exact_dedup",
    "streaming_line_dedup",
    "streaming_span_dedup",
    "streaming_weighted_sample",
    "tumbling_sax_event_time",
]
