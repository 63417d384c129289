"""foreachBatch incremental rollup: multi-batch streaming merge equals a
direct batch aggregation, replays are skipped, crashes can't lose state."""

from __future__ import annotations

from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.operators.aggregations import (
    daily_partials,
)
from ambient_sound_analysis_api_spark.streaming.rollup import (
    last_merged_batch,
    merge_partials_batch,
    read_store,
)
from ambient_sound_analysis_api_spark.streaming.windows import drain


def _norm(df):
    return sorted(
        (r.event_type, r.day, r.n, float(r.s), r.mn, r.mx)
        for r in df.collect()
    )


def test_multi_batch_rollup_equals_direct(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "ts", "value"
    )
    src = str(tmp_path / "src")
    # several source files → one file per micro-batch gives several batches
    ev.repartition(4).write.parquet(src)
    store = str(tmp_path / "store")
    drain(
        spark, src, ev.schema,
        lambda b, i: merge_partials_batch(spark, b, i, store),
        str(tmp_path / "ckpt"),
    )
    assert last_merged_batch(spark, store) >= 1  # really ran multiple batches
    got = read_store(spark, store)
    want = daily_partials(ev)
    assert _norm(got) == _norm(want)


def test_replayed_batch_is_skipped(spark, tmp_path):
    store = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [("click", "2024-01-01 10:00:00", 1.0)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    assert merge_partials_batch(spark, batch, 0, store) is True
    before = _norm(read_store(spark, store))
    # at-least-once redelivery of the same batch id must be a no-op
    assert merge_partials_batch(spark, batch, 0, store) is False
    assert _norm(read_store(spark, store)) == before
    # the next id merges
    assert merge_partials_batch(spark, batch, 1, store) is True
    after = read_store(spark, store).collect()
    assert after[0].n == 2


def test_batch_id_commits_without_spark_json_io(spark, tmp_path, monkeypatch):
    """The committed batch id is a small file written and read through the
    filesystem API: with Spark's JSON reader and writer disabled, two
    batches merge and a replay of the last one is still skipped."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    def no_json(*a, **k):
        raise AssertionError("Spark JSON I/O on the batch-id path")

    monkeypatch.setattr(DataFrameReader, "json", no_json)
    monkeypatch.setattr(DataFrameWriter, "json", no_json)
    store = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [("click", "2024-01-01 10:00:00", 1.0)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    assert merge_partials_batch(spark, batch, 0, store) is True
    assert merge_partials_batch(spark, batch, 1, store) is True
    assert last_merged_batch(spark, store) == 1
    assert merge_partials_batch(spark, batch, 1, store) is False
    assert read_store(spark, store).collect()[0].n == 2


def test_store_survives_failed_staging_write(spark, tmp_path, monkeypatch):
    """A crash during the staged write must leave the committed store (and
    its batch-id marker) untouched."""
    store = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [("click", "2024-01-01 10:00:00", 2.5)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    assert merge_partials_batch(spark, batch, 0, store)
    before = _norm(read_store(spark, store))

    import ambient_sound_analysis_api_spark.streaming.rollup as rollup

    def boom(*a, **k):
        raise RuntimeError("simulated crash before swap")

    monkeypatch.setattr(rollup, "swap_in", boom)
    try:
        merge_partials_batch(spark, batch, 1, store)
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert _norm(read_store(spark, store)) == before
    assert last_merged_batch(spark, store) == 0


# ---------------------------------------------------------- HLL register store


def test_hll_register_store_merge_and_idempotent_replay(spark, tmp_path):
    """Register merge is idempotent (max), so replaying a batch must leave
    the store bit-identical — the property that makes the streaming HLL
    store exactly-once WITHOUT a committed-batch-id check."""
    from ambient_sound_analysis_api_spark.operators.sketches import (
        hll_estimate_from_registers,
    )
    from ambient_sound_analysis_api_spark.streaming.hll import (
        merge_register_batch,
        read_store,
    )

    store = str(tmp_path / "store")
    b1 = spark.createDataFrame(
        [("a", "2024-01-01", i) for i in range(100)],
        "event_type string, day string, user_id long",
    )
    b2 = spark.createDataFrame(
        [("a", "2024-01-01", i) for i in range(50, 150)],
        "event_type string, day string, user_id long",
    )
    merge_register_batch(spark, b1, 0, store)
    merge_register_batch(spark, b2, 1, store)
    after = sorted(map(tuple, read_store(spark, store).collect()))
    est = hll_estimate_from_registers(
        read_store(spark, store), ["event_type", "day"]
    ).collect()[0]["approx_users"]
    # replay batch 2 — at-least-once redelivery
    merge_register_batch(spark, b2, 1, store)
    replayed = sorted(map(tuple, read_store(spark, store).collect()))
    assert replayed == after
    # merged estimate equals the one-shot estimate over the union
    from ambient_sound_analysis_api_spark.operators.sketches import (
        hll_estimate,
    )

    direct = hll_estimate(
        b1.union(b2), "user_id", ["event_type", "day"]
    ).collect()[0]["approx_users"]
    assert est == direct


# ------------------------------------------------- crash-injection: rename window


def _tear_swap_at_rename_window(spark, store):
    """Simulate kill -9 BETWEEN swap_in's two renames: the store has been
    renamed aside to <store>.__old__.<token>, the staged replacement is
    fully written, store path itself does not exist. Returns a swap_in
    stand-in that performs exactly the first rename, then 'dies'."""

    def torn_swap_in(spark_, staged, path):
        jvm = spark_._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark_._jsc.hadoopConfiguration())
        old = jvm.org.apache.hadoop.fs.Path(f"{path}.__old__.deadbeef0000")
        assert fs.rename(hpath, old)
        raise RuntimeError("injected crash between swap renames")

    return torn_swap_in


def test_hll_store_crash_in_rename_window_recovers(spark, tmp_path, monkeypatch):
    """Kill between the swap's two renames, then replay the batch: the
    recovered store must equal the batch oracle — the exactly-once-by-
    idempotent-max-merge claim proven under a real torn write (the
    streaming twin of tests/test_atomic_write.py)."""
    import ambient_sound_analysis_api_spark.streaming.hll as hllmod
    from ambient_sound_analysis_api_spark.operators.sketches import (
        hll_estimate,
        hll_estimate_from_registers,
    )

    store = str(tmp_path / "store")
    b1 = spark.createDataFrame(
        [("a", "2024-01-01", i) for i in range(100)],
        "event_type string, day string, user_id long",
    )
    b2 = spark.createDataFrame(
        [("a", "2024-01-01", i) for i in range(50, 150)],
        "event_type string, day string, user_id long",
    )
    hllmod.merge_register_batch(spark, b1, 0, store)

    monkeypatch.setattr(hllmod, "swap_in", _tear_swap_at_rename_window(spark, store))
    try:
        hllmod.merge_register_batch(spark, b2, 1, store)
    except RuntimeError:
        pass
    monkeypatch.undo()

    # the crash window is real: the store path itself is gone
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(store)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    assert not fs.exists(hpath)

    # read_store recovers the newest complete copy instead of returning None
    recovered = hllmod.read_store(spark, store)
    assert recovered is not None

    # at-least-once replay of the in-flight batch, then compare to oracle
    hllmod.merge_register_batch(spark, b2, 1, store)
    est = hll_estimate_from_registers(
        hllmod.read_store(spark, store), ["event_type", "day"]
    ).collect()[0]["approx_users"]
    direct = hll_estimate(
        b1.union(b2), "user_id", ["event_type", "day"]
    ).collect()[0]["approx_users"]
    assert est == direct


def test_hll_store_crash_with_incomplete_staging_falls_back_to_old(
    spark, tmp_path, monkeypatch
):
    """Same torn swap, but the staged replacement is ALSO incomplete (its
    _SUCCESS marker missing — e.g. the staging write itself was the victim
    of an earlier fault): recovery must choose the complete __old__ copy,
    and the batch replay reconstructs the post-merge state."""
    import ambient_sound_analysis_api_spark.streaming.hll as hllmod
    from ambient_sound_analysis_api_spark.operators.sketches import (
        hll_estimate,
        hll_estimate_from_registers,
    )

    store = str(tmp_path / "store")
    b1 = spark.createDataFrame(
        [("a", "2024-01-01", i) for i in range(80)],
        "event_type string, day string, user_id long",
    )
    b2 = spark.createDataFrame(
        [("b", "2024-01-02", i) for i in range(40)],
        "event_type string, day string, user_id long",
    )
    hllmod.merge_register_batch(spark, b1, 0, store)

    monkeypatch.setattr(hllmod, "swap_in", _tear_swap_at_rename_window(spark, store))
    try:
        hllmod.merge_register_batch(spark, b2, 1, store)
    except RuntimeError:
        pass
    monkeypatch.undo()

    # strip _SUCCESS from every staged sibling -> staged copies look torn
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(store)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.listStatus(hpath.getParent()):
        name = st.getPath().getName()
        if name.startswith("store.__staging__."):
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(str(st.getPath()) + "/_SUCCESS"),
                False,
            )

    recovered = hllmod.read_store(spark, store)
    assert recovered is not None  # the complete __old__ copy won
    # pre-merge state: only b1's day is present
    assert {r["day"] for r in recovered.select("day").distinct().collect()} == {
        "2024-01-01"
    }

    hllmod.merge_register_batch(spark, b2, 1, store)
    est = {
        (r["event_type"], r["day"]): r["approx_users"]
        for r in hll_estimate_from_registers(
            hllmod.read_store(spark, store), ["event_type", "day"]
        ).collect()
    }
    direct = {
        (r["event_type"], r["day"]): r["approx_users"]
        for r in hll_estimate(
            b1.union(b2), "user_id", ["event_type", "day"]
        ).collect()
    }
    assert est == direct


def test_rollup_store_crash_in_rename_window_skips_replay(
    spark, tmp_path, monkeypatch
):
    """The partials store is NOT idempotent, so the crash window matters
    even more: the recovered staged copy carries its _batch_id file, and
    the replayed batch must be SKIPPED (merging it twice would
    double-count)."""
    import ambient_sound_analysis_api_spark.streaming.rollup as rollupmod

    store = str(tmp_path / "store")
    b1 = spark.createDataFrame(
        [("click", "2024-01-01 10:00:00", 1.0)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    b2 = spark.createDataFrame(
        [("click", "2024-01-01 11:00:00", 2.0)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    assert rollupmod.merge_partials_batch(spark, b1, 0, store) is True

    monkeypatch.setattr(
        rollupmod, "swap_in", _tear_swap_at_rename_window(spark, store)
    )
    try:
        rollupmod.merge_partials_batch(spark, b2, 1, store)
    except RuntimeError:
        pass
    monkeypatch.undo()

    # recovery happens inside the replay gate itself
    assert rollupmod.last_merged_batch(spark, store) == 1
    # at-least-once redelivery of batch 1 is detected and skipped
    assert rollupmod.merge_partials_batch(spark, b2, 1, store) is False
    got = _norm(rollupmod.read_store(spark, store))
    want = _norm(daily_partials(b1.union(b2)))
    assert got == want


def test_recover_path_is_noop_when_store_exists(spark, tmp_path):
    """A stale complete staging sibling (crash BEFORE any rename) must
    never displace a live store: recover_path only acts when the store
    path itself is missing."""
    from ambient_sound_analysis_api_spark.operators.atomic_swap import (
        recover_path,
    )

    store = str(tmp_path / "store")
    spark.range(5).write.parquet(store)
    stale = str(tmp_path / "store.__staging__.cafecafe0000")
    spark.range(999).write.parquet(stale)  # complete (_SUCCESS present)

    assert recover_path(spark, store) is None
    assert spark.read.parquet(store).count() == 5  # untouched

    # once the store goes missing, the complete sibling IS recovered —
    # and other siblings stay on disk (documented retention)
    import shutil

    shutil.rmtree(store)
    other = str(tmp_path / "store.__old__.beefbeef0000")
    spark.range(7).write.parquet(other)
    recovered = recover_path(spark, store)
    assert recovered is not None
    assert spark.read.parquet(store).count() in (999, 7)
    import os

    leftovers = [
        d for d in os.listdir(tmp_path)
        if d.startswith("store.__") and os.path.isdir(tmp_path / d)
    ]
    assert len(leftovers) == 1  # the non-chosen sibling is retained


# ------------------------------------------- cross-store exactly-once (dual sink)


def _dual_batches(spark):
    b1 = spark.createDataFrame(
        [("click", "2024-01-01 10:00:00", 1.0, i) for i in range(60)],
        "event_type string, ts string, value double, user_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    b2 = spark.createDataFrame(
        [("click", "2024-01-01 11:00:00", 2.0, i) for i in range(30, 90)]
        + [("view", "2024-01-02 09:00:00", 5.0, i) for i in range(20)],
        "event_type string, ts string, value double, user_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    return b1, b2


def _assert_dual_matches_oracle(spark, pstore, hstore, b1, b2):
    from ambient_sound_analysis_api_spark.operators.sketches import (
        hll_estimate,
        hll_estimate_from_registers,
    )
    from ambient_sound_analysis_api_spark.streaming import hll as hllmod
    from ambient_sound_analysis_api_spark.streaming import rollup as rollupmod

    union = b1.union(b2)
    got = _norm(rollupmod.read_store(spark, pstore))
    want = _norm(daily_partials(union))
    assert got == want
    est = {
        (r["event_type"], r["day"]): r["approx_users"]
        for r in hll_estimate_from_registers(
            hllmod.read_store(spark, hstore), ["event_type", "day"]
        ).collect()
    }
    direct = {
        (r["event_type"], r["day"]): r["approx_users"]
        for r in hll_estimate(
            union.select(
                "event_type",
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                "user_id",
            ),
            "user_id",
            ["event_type", "day"],
        ).collect()
    }
    assert est == direct


def test_dual_store_kill_between_store_commits_converges(
    spark, tmp_path, monkeypatch
):
    """One foreachBatch commits BOTH stores; a kill BETWEEN the two swaps
    commits the partials store but not the register store. The replay
    must converge both to the batch oracle: the partials merge is skipped
    (id gate) while the register merge — which would be silently LOST if
    replay were keyed on the partials gate alone — re-runs idempotently."""
    from ambient_sound_analysis_api_spark.streaming import hll as hllmod
    from ambient_sound_analysis_api_spark.streaming import rollup as rollupmod
    from ambient_sound_analysis_api_spark.streaming.dual import (
        dual_store_merge_batch,
    )

    pstore = str(tmp_path / "partials")
    hstore = str(tmp_path / "hll")
    b1, b2 = _dual_batches(spark)
    assert dual_store_merge_batch(spark, b1, 0, pstore, hstore) is True

    def boom(*a, **k):
        raise RuntimeError("kill between the two store swaps")

    monkeypatch.setattr(hllmod, "swap_in", boom)
    try:
        dual_store_merge_batch(spark, b2, 1, pstore, hstore)
    except RuntimeError:
        pass
    monkeypatch.undo()

    # the tear is real: partials committed batch 1, registers still at b1
    assert rollupmod.last_merged_batch(spark, pstore) == 1
    days = {
        r["day"]
        for r in hllmod.read_store(spark, hstore).select("day").distinct().collect()
    }
    assert days == {"2024-01-01"}

    # at-least-once replay of the whole batch: partials skip, registers merge
    assert dual_store_merge_batch(spark, b2, 1, pstore, hstore) is False
    _assert_dual_matches_oracle(spark, pstore, hstore, b1, b2)


def test_dual_store_kill_inside_second_store_rename_window(
    spark, tmp_path, monkeypatch
):
    """Nastier: the kill lands INSIDE the register store's rename window
    (first store committed, second store's path briefly absent). Recovery
    plus idempotent re-merge on replay must still converge both stores."""
    from ambient_sound_analysis_api_spark.streaming import hll as hllmod
    from ambient_sound_analysis_api_spark.streaming import rollup as rollupmod
    from ambient_sound_analysis_api_spark.streaming.dual import (
        dual_store_merge_batch,
    )

    pstore = str(tmp_path / "partials")
    hstore = str(tmp_path / "hll")
    b1, b2 = _dual_batches(spark)
    assert dual_store_merge_batch(spark, b1, 0, pstore, hstore) is True

    monkeypatch.setattr(
        hllmod, "swap_in", _tear_swap_at_rename_window(spark, hstore)
    )
    try:
        dual_store_merge_batch(spark, b2, 1, pstore, hstore)
    except RuntimeError:
        pass
    monkeypatch.undo()

    # the register store path itself is gone (mid-swap), partials committed
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(hstore)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    assert not fs.exists(hpath)
    assert rollupmod.last_merged_batch(spark, pstore) == 1

    assert dual_store_merge_batch(spark, b2, 1, pstore, hstore) is False
    _assert_dual_matches_oracle(spark, pstore, hstore, b1, b2)


def test_dual_store_streaming_end_to_end(spark, sf_dir, tmp_path):
    """The dual sink on real availableNow machinery over multiple
    micro-batches equals the direct batch aggregation for BOTH stores."""
    from ambient_sound_analysis_api_spark.streaming.dual import (
        dual_store_merge_batch,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "ts", "value", "user_id"
    )
    src = str(tmp_path / "src")
    ev.repartition(3).write.parquet(src)
    pstore = str(tmp_path / "partials")
    hstore = str(tmp_path / "hll")
    drain(
        spark, src, ev.schema,
        lambda b, i: dual_store_merge_batch(spark, b, i, pstore, hstore),
        str(tmp_path / "ckpt"),
    )

    from ambient_sound_analysis_api_spark.operators.sketches import (
        hll_estimate,
        hll_estimate_from_registers,
    )
    from ambient_sound_analysis_api_spark.streaming import hll as hllmod
    from ambient_sound_analysis_api_spark.streaming import rollup as rollupmod

    assert rollupmod.last_merged_batch(spark, pstore) >= 1
    assert _norm(rollupmod.read_store(spark, pstore)) == _norm(
        daily_partials(ev)
    )
    est = {
        (r["event_type"], r["day"]): r["approx_users"]
        for r in hll_estimate_from_registers(
            hllmod.read_store(spark, hstore), ["event_type", "day"]
        ).collect()
    }
    direct = {
        (r["event_type"], r["day"]): r["approx_users"]
        for r in hll_estimate(
            ev.filter(F.col("user_id").isNotNull()).select(
                "event_type",
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                "user_id",
            ),
            "user_id",
            ["event_type", "day"],
        ).collect()
    }
    assert est == direct
