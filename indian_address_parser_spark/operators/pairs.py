"""Candidate pair generation: self-join within blocks.

``blocked ⋈ blocked ON join_key AND id_a < id_b`` — a shuffled self-join on
the blocking key. AQE + skew-join handle residual partition skew; the
quadratic-block problem is already handled upstream (secondary keys in
``blocking.with_block_key``). Mentions whose key carries no information
(empty pincode AND city AND locality) are excluded — they would form one
giant junk block. The columns carried are the caller's: the pipeline and
the registry chain join the same way and differ only in their spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indian_address_parser_spark.operators.scoring import FIELD_WEIGHTS, spec_columns

# Raw address fields the pipeline's spec scores (digit signatures are
# derived from the guarded ones in blocking.with_block_key).
RAW_FIELDS = tuple(f for f, _, _, _ in FIELD_WEIGHTS)

# Fields each side carries into scoring (incl. precomputed digit signatures).
# Keep this minimal — every column here is shuffled twice in the self-join.
PAIR_FIELDS = spec_columns(FIELD_WEIGHTS)

# Everything candidate_pairs consumes from the blocked frame. Checkpoint /
# persist THIS projection, not the full mention payload: the wide columns
# (url, normalized text, raw entity struct) are never read by the pair
# join, and at crawl scale they dominate the bytes written — measured 15×
# block-stage blow-up (8.8s → 132s for 4× pages) when the full frame was
# persisted, driven by materializing ~500B/row instead of ~120B/row.
PAIR_INPUT_COLS = ("mention_id", "block_key", "block_size", "join_key", *PAIR_FIELDS)

# Everything the extract→blocking hand-off needs (with_block_key's inputs:
# the raw fields behind PAIR_FIELDS, the normalized text for the city
# fallback regex, plus the id the final cluster attach joins on). Persist
# THIS projection of mentions, not the full payload: raw text and the
# entities span array dominate the serialized bytes (~4× the pruned row)
# and are read by nothing downstream of extraction — at 4.8M pages the
# wide cache pushed both the blocking pass and the extraction stage's
# cache write into disk-bandwidth-bound territory (constant ~110 s at any
# core count).
BLOCK_INPUT_COLS = ("mention_id", "normalized") + RAW_FIELDS


def candidate_pairs(blocked: DataFrame) -> DataFrame:
    """→ one row per unordered candidate pair: ``join_key`` plus ``{c}_a`` /
    ``{c}_b`` for ``mention_id`` and every payload column of ``blocked``
    (all but the block bookkeeping). Project the payload to a spec's
    columns before persisting (``PAIR_INPUT_COLS`` for the pipeline's);
    unread payload feeding ``score_pairs`` directly is pruned below the join."""
    usable = blocked.where(F.col("block_key") != "||")

    cols = [c for c in blocked.columns if c not in ("block_key", "block_size")]
    left = usable.select([F.col(c).alias(f"{c}_a") for c in cols])
    right = usable.select([F.col(c).alias(f"{c}_b") for c in cols])

    return (
        left.join(
            right,
            (F.col("join_key_a") == F.col("join_key_b"))
            & (F.col("mention_id_a") < F.col("mention_id_b")),
        )
        .drop("join_key_b")
        .withColumnRenamed("join_key_a", "join_key")
    )
