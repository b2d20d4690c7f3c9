"""Structured Streaming layer: replay source, declarative jobs,
stateful detectors, metrics listener."""

from .jobs import (  # noqa: F401
    IN_ORDER,
    OUT_OF_ORDER_5S,
    PANED_CROSSOVER_STATE_WRITES,
    alert_stream,
    chained_windows_stream,
    choose_sliding_mode,
    paned_sliding_stream,
    session_agg_stream,
    sliding_sum_stream,
    window_agg,
    windowed_agg_stream,
)
from .listener import JobMetrics, MetricsListener  # noqa: F401
from .rollup import (  # noqa: F401
    continuous_rollup_sink,
    daily_rollup_stream,
    read_rollup,
    run_rollup,
)
from .replay import (  # noqa: F401
    REPLAY_STATE_PARTITIONS,
    SENTINEL_ACCOUNT,
    append_sentinel_chunk,
    ensure_replay_chunks,
    max_chunk_t_us,
    read_replay_batch,
    read_replay_stream,
    replay_state_confs,
    run_to_memory,
    write_replay_chunks,
)
from .stateful import (  # noqa: F401
    count_or_time_stream,
    ewma_stream,
    ts_pattern_stream,
    funnel_stream,
    record_buffer_bounded_tumbling_stream,
    record_buffer_tumbling_stream,
    scd2_stream,
    scd2_tombstoned_stream,
    temporal_join_stream,
    running_mean_alerts_batch,
    running_mean_alerts_stream,
    running_sum_alerts_batch,
    running_sum_alerts_stream,
    zscore_alerts_stream,
)
