from .images import (
    run_dhash_index_maintenance_once,
)
from .late import (
    daily_counts_stream,
    run_incremental_late_audit,
    run_late_data_audit_once,
    run_update_mode_rollup_once,
)
from .weekly import (
    weekly_rollup_stream,
    run_bitmap_distinct_once,
    run_weekly_rollup_once,
    sliding_rollup_stream,
    run_sliding_rollup_once,
)
from .sessions import (
    sessionize_stream,
    sessionize_stream_flushing,
    run_sessionize_once,
    session_window_stream,
    run_session_window_once,
)
from .joins import (
    click_purchase_full_join,
    click_purchase_semi_join,
    click_purchase_left_join,
    click_purchase_stream_join,
    run_click_purchase_full_join_once,
    run_click_purchase_semi_join_once,
    run_click_purchase_join_once,
    run_click_purchase_join_rollup_once,
    run_click_purchase_left_join_once,
    run_stream_static_enrich_once,
    stream_static_enrich,
)
from .stateful import (
    run_running_user_stats_once,
    run_user_ewma_once,
    running_user_stats_stream_gs,
)
from .dedup import (
    dedup_then_rollup_stream,
    first_events_stream,
    first_events_stream_bounded,
    run_dedup_then_rollup_once,
    run_first_events_bounded_once,
    run_first_events_once,
)

__all__ = [
    "weekly_rollup_stream",
    "run_bitmap_distinct_once",
    "run_weekly_rollup_once",
    "daily_counts_stream",
    "run_incremental_late_audit",
    "run_late_data_audit_once",
    "run_update_mode_rollup_once",
    "sliding_rollup_stream",
    "run_sliding_rollup_once",
    "dedup_then_rollup_stream",
    "run_dedup_then_rollup_once",
    "first_events_stream",
    "first_events_stream_bounded",
    "run_first_events_bounded_once",
    "run_first_events_once",
    "run_running_user_stats_once",
    "run_user_ewma_once",
    "running_user_stats_stream_gs",
    "sessionize_stream",
    "sessionize_stream_flushing",
    "run_sessionize_once",
    "session_window_stream",
    "run_session_window_once",
    "click_purchase_stream_join",
    "run_click_purchase_join_once",
    "run_click_purchase_join_rollup_once",
    "click_purchase_left_join",
    "run_click_purchase_left_join_once",
    "click_purchase_full_join",
    "run_click_purchase_full_join_once",
    "click_purchase_semi_join",
    "run_click_purchase_semi_join_once",
    "stream_static_enrich",
    "run_stream_static_enrich_once",
    "run_dhash_index_maintenance_once",
]
