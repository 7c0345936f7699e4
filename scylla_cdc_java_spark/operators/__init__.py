from .normalize import normalize_changes
from .dedup import dedup_changes, resume_filter
from .apply import apply_cdc_log, pair_range_deletes

__all__ = [
    "normalize_changes",
    "dedup_changes",
    "resume_filter",
    "apply_cdc_log",
    "pair_range_deletes",
]
