"""Relational + pipeline operators."""

from pipeline_dataengineer_spark.operators.dedup import (
    dedup_exact,
    dedup_keep_first,
    dedup_last_wins,
    minhash_lsh_near_duplicates,
    simhash64,
    ngram_jaccard_pairs,
)
from pipeline_dataengineer_spark.operators.incremental import (
    idempotent_append,
    incremental_filter,
)
from pipeline_dataengineer_spark.operators.joins import (
    asof_join,
    range_join,
    broadcast_if_small,
)

__all__ = [
    "dedup_exact",
    "dedup_keep_first",
    "dedup_last_wins",
    "minhash_lsh_near_duplicates",
    "simhash64",
    "ngram_jaccard_pairs",
    "idempotent_append",
    "incremental_filter",
    "asof_join",
    "range_join",
    "broadcast_if_small",
]
