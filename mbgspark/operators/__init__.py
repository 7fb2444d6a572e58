from mbgspark.operators.dedup import (
    dedup_by_key,
    dedup_by_normalized_text,
    keep_latest_per_key,
)
from mbgspark.operators.locate import containment_join_first_match, fuzzy_top1_join

__all__ = [
    "dedup_by_key",
    "dedup_by_normalized_text",
    "keep_latest_per_key",
    "containment_join_first_match",
    "fuzzy_top1_join",
]
