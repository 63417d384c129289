"""Dual-store ``foreachBatch`` sink: one micro-batch commits BOTH the
algebraic-partials rollup store and the HLL register store.

A real pipeline rarely maintains one store: the daily mean/min/max AND the
daily distinct-user estimate come from the same event feed. Committing two
stores from one ``foreachBatch`` opens a failure mode neither store has
alone: the batch can COMMIT ONE AND TEAR THE OTHER (a kill between the two
swaps), which a naive "wrap both in one transaction" design can't fix on a
filesystem with only per-directory atomic renames.

Exactly-once still holds, compositionally, because the two stores carry
complementary replay defenses and the sink orders them so every crash
point is covered:

1. **partials store first** — NOT idempotent (a re-merge double-counts),
   so it is gated by the committed batch id in the store's
   ``_batch_id`` file (``rollup.merge_partials_batch`` returns False on
   replay). Its own rename window is covered by
   ``atomic_swap.recover_path``.
2. **HLL register store second** — idempotent by algebra
   (``max(max(S,B),B) = max(S,B)``), so replaying the batch after ANY
   crash point — before its swap, inside its rename window, or after a
   successful commit — converges to the same registers.

Replay after a kill anywhere therefore converges both stores to the batch
oracle: the partials store skips (id gate) or merges (never committed);
the register store re-merges harmlessly. Crash-injection-proven in
``tests/test_streaming_rollup.py`` (kill between the stores' swaps AND
kill inside the second store's rename window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import hll as hllmod
from . import rollup as rollupmod


def dual_store_merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    partials_store: str,
    hll_store: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    user_col: str = "user_id",
) -> bool:
    """Commit one micro-batch to both stores; returns whether the
    partials store actually merged (False = replay skipped). The HLL
    merge always runs — idempotence makes re-running it correct, and
    skipping it on partials-replay would LOSE it when the previous
    attempt died between the two swaps (the exact crash this sink
    exists to survive)."""
    merged = rollupmod.merge_partials_batch(
        spark,
        batch_df,
        batch_id,
        partials_store,
        key_col=key_col,
        ts_col=ts_col,
        val_col=val_col,
    )
    hb = batch_df.filter(F.col(user_col).isNotNull()).select(
        F.col(key_col).alias("event_type"),
        F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
        F.col(user_col),
    )
    hllmod.merge_register_batch(spark, hb, batch_id, hll_store, key=user_col)
    return merged
