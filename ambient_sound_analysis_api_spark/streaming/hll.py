"""Streaming HLL register store: ``foreachBatch`` merging per-day
HyperLogLog registers into a crash-safe parquet store.

The streaming twin of ``streaming/rollup.py`` for DISTINCT counts — the
one statistic the algebraic-partials store cannot carry (counts/sums/min/
max merge; distinct counts don't). HLL registers DO merge (elementwise
``max``), so the store holds ≤64 integer rows per (event_type, day) no
matter how many events stream through, and any coarser rollup (weekly,
monthly, arbitrary range) is a register-max away — see
``operators/sketches.py`` for the register/estimate algebra and
``registry.agg_hll_daily_rollup`` for the batch form.

Exactly-once is FREE here, by algebra: ``foreachBatch`` is at-least-once
on retry, but register merge is idempotent (``max(max(S, B), B) =
max(S, B)``), so a re-delivered batch cannot change the store — unlike
the sum-based partials store, which needs the committed-batch-id check.
The swap uses the staging + atomic-rename protocol
(``operators/atomic_swap.py``): readers never observe a PARTIAL store —
every on-disk copy is complete — but the protocol's two renames leave one
crash window where ``store_path`` itself is briefly absent (the registers
live under ``<path>.__old__.<token>`` and the fully staged replacement).
``atomic_swap.read_store`` closes that window by recovering the newest
complete sibling copy back into place (``atomic_swap.recover_path``)
instead of silently restarting from an empty store; combined with max-merge
idempotence on the batch replay, a kill at ANY point reproduces the
batch-oracle registers (crash-injection-tested in
``tests/test_streaming_rollup.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.atomic_swap import read_store, staging_path, swap_in
from ..operators.sketches import hll_registers

KEYS = ["event_type", "day"]


def merge_register_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    key: str = "user_id",
) -> None:
    """Merge one micro-batch's registers into the store (idempotent)."""
    regs = hll_registers(batch_df, key, KEYS)
    old = read_store(spark, store_path)
    merged = (
        old.select(*KEYS, "reg", "m").unionAll(regs).groupBy(*KEYS, "reg")
        .agg(F.max("m").alias("m"))
        if old is not None
        else regs
    )
    staged = staging_path(store_path)
    merged.write.parquet(staged)
    swap_in(spark, staged, store_path)
