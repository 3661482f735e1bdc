from erigon_extract_spark.streaming.latest_state import (  # noqa: F401
    stream_dedup_within_watermark,
    stream_latest_state,
    stream_ohlc,
    stream_session_windows,
    stream_windowed_counts,
)
from erigon_extract_spark.streaming.sessionize import (  # noqa: F401
    stream_sessionize,
)
