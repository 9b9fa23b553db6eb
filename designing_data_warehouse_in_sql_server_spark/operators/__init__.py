from .cleaning import cap_outliers_zscore, dedupe, impute_group_mean
from .incremental import change_deltas, full_sum_count, refresh_incremental_agg
from .scd2 import SCD2_OPEN_END, scd2_apply
from .watermark import high_watermarks

__all__ = [
    "cap_outliers_zscore",
    "change_deltas",
    "dedupe",
    "full_sum_count",
    "impute_group_mean",
    "refresh_incremental_agg",
    "SCD2_OPEN_END",
    "scd2_apply",
    "high_watermarks",
]
