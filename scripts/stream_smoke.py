#!/usr/bin/env python
"""Streaming throughput + batch-parity smoke at multi-million-event scale.

The streaming operators (streaming/pipeline.py, streaming/stateful.py) are
correctness-tested on small fixtures; this script is their scale evidence,
the analogue of scripts/scale_smoke.py for the streaming family:

1. generate 10 M events as K time-ordered parquet files (a file stream
   source processes files in order, so this is the in-order-source
   contract the ffill operator documents);
2. run each streaming operator over the backlog with
   ``trigger(availableNow)`` + ``maxFilesPerTrigger`` so the run is a
   REAL multi-micro-batch execution (state carried across batches), not
   one giant batch;
3. verify the emitted rows against the corresponding batch kernel on the
   same data (modulo the append-mode tail: windows/sessions the final
   watermark has not passed are legitimately still open and unemitted —
   the checker requires every missing row to be inside that tail horizon
   and every emitted row to match batch exactly);
4. report wall time and events/s per operator.

Run from the repo root: python scripts/stream_smoke.py [n_events]
Exits 1 unless every parity check agrees.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from solarboat_data_pipeline_spark import get_spark  # noqa: E402
from solarboat_data_pipeline_spark.streaming.pipeline import (  # noqa: E402
    stream_dedup_exact,
    stream_resample_mean,
    stream_sessionize,
)
from solarboat_data_pipeline_spark.streaming.stateful import (  # noqa: E402
    stream_asof_backward,
    stream_asof_linear,
    stream_ffill,
)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
N_SERIES = 16
N_FILES = 20
FILES_PER_TRIGGER = 4  # -> 5 micro-batches over the backlog
WORK = "/tmp/stream_smoke"
BASE_US = 1_000_000_000  # corpus starts at epoch 1000 s (see generate())
GAP_S = 5.0  # sessionize gap; generator plants a 10 s jump every 1000 steps
WATERMARK = "5 seconds"
WM_S = 5.0

results: list[dict] = []


def report(check: str, agree: bool, wall: float, extra: dict) -> None:
    rec = {
        "check": check,
        "agree": bool(agree),
        "wall_sec": round(wall, 2),
        "events_per_sec": round(N / wall) if wall else None,
        **extra,
    }
    results.append(rec)
    print(json.dumps(rec), flush=True)


def generate(spark, src: str) -> None:
    """K time-ordered parquet files. Row i of series s (seq = i) has
    ts = 0.1 s * seq + 10 s * (seq // 1000): a planted > GAP_S jump every
    1000 steps makes sessionize output analytic. value is null on ~10% of
    rows (hash-chosen) for the ffill check; text repeats every 2 ids
    inside a 0.2 s span for the within-watermark dedup check."""
    os.makedirs(src, exist_ok=True)
    per_file = N // N_FILES
    tmp = os.path.join(WORK, "_gen_tmp")
    for f in range(N_FILES):
        df = spark.range(f * per_file, (f + 1) * per_file).select(
            F.col("id"),
            F.concat(F.lit("s"), F.pmod("id", F.lit(N_SERIES))).alias("series"),
        )
        seq = (F.col("id") / N_SERIES).cast("long")
        # BASE offset: a corpus starting at epoch 0 puts its first rows AT
        # the stream's initial watermark, which drops them as late — an
        # artifact of the synthetic clock, not of the operators
        ts = F.timestamp_micros(
            (
                BASE_US
                + seq * 100_000
                + (seq / 1000).cast("long") * 10_000_000
            ).cast("long")
        )
        df = df.select(
            "series",
            ts.alias("timestamp"),
            F.when(
                F.pmod(F.hash("id", F.lit(7)), 10) != 0, F.col("id").cast("double")
            ).alias("value"),
            F.concat(F.lit("k"), (F.col("id") / 2).cast("long")).alias("text"),
        )
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.replace(part, os.path.join(src, f"events_{f:03d}.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)


def open_stream(spark, src: str):
    return (
        spark.readStream.schema(
            "series string, timestamp timestamp, value double, text string"
        )
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(os.path.join(src, "*.parquet"))
    )


def run_stream(df, name: str) -> float:
    out = os.path.join(WORK, f"out_{name}")
    ckpt = os.path.join(WORK, f"ckpt_{name}")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    t0 = time.perf_counter()
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return time.perf_counter() - t0


def check_resample(spark, src: str, max_ts) -> None:
    """Stream windowed mean vs the batch window aggregate. Missing rows
    must all be trailing (window not yet passed by the final watermark);
    emitted rows must match batch values exactly."""
    stream = stream_resample_mean(
        open_stream(spark, src), 1.0, watermark=WATERMARK, key_cols=("series",)
    )
    wall = run_stream(stream, "resample")
    got = spark.read.parquet(os.path.join(WORK, "out_resample"))
    batch = (
        spark.read.parquet(os.path.join(src, "*.parquet"))
        .groupBy(F.window("timestamp", "1 seconds").alias("w"), "series")
        .agg(F.avg("value").alias("value"))
        .select(F.col("w.start").alias("timestamp"), "series", "value")
    )
    keys = ["timestamp", "series"]
    spurious = got.join(batch, [*keys, "value"], "left_anti").count()
    missing = batch.join(got, keys, "left_anti")
    horizon = max_ts - (WM_S + 2.0)
    late_missing = missing.where(
        F.col("timestamp") < F.timestamp_seconds(F.lit(horizon))
    ).count()
    n_missing = missing.count()
    report(
        "stream_resample_vs_batch_window_mean",
        spurious == 0 and late_missing == 0,
        wall,
        {
            "emitted_windows": got.count(),
            "spurious_or_value_mismatch": spurious,
            "unemitted_tail_windows": n_missing,
            "unemitted_before_horizon": late_missing,
        },
    )


def check_sessionize(spark, src: str, max_ts) -> None:
    """Stream session_window vs batch sessionize: every emitted session
    must match a batch session (start + n_events) exactly; only sessions
    still open at the final watermark may be missing."""
    from solarboat_data_pipeline_spark.operators.timeseries import sessionize

    stream = stream_sessionize(
        open_stream(spark, src),
        gap_seconds=GAP_S,
        watermark=WATERMARK,
        key_cols=("series",),
    )
    wall = run_stream(stream, "sessionize")
    got = spark.read.parquet(os.path.join(WORK, "out_sessionize")).select(
        "series", F.col("session_start").alias("start"), "n_events"
    )
    batch = (
        sessionize(
            spark.read.parquet(os.path.join(src, "*.parquet")),
            gap_seconds=GAP_S,
            partition_cols=["series"],
        )
        .groupBy("series", "session_id")
        .agg(
            F.min("timestamp").alias("start"),
            F.max("timestamp").alias("end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("series", "start", "end", "n_events")
    )
    spurious = got.join(batch, ["series", "start", "n_events"], "left_anti").count()
    missing = batch.join(got, ["series", "start"], "left_anti")
    # a session is legitimately unemitted iff still OPEN at the final
    # watermark: its last event within (watermark + gap) of stream end
    horizon = max_ts - (WM_S + GAP_S + 2.0)
    late_missing = missing.where(
        F.col("end") < F.timestamp_seconds(F.lit(horizon))
    ).count()
    report(
        "stream_sessionize_vs_batch",
        spurious == 0 and late_missing == 0,
        wall,
        {
            "emitted_sessions": got.count(),
            "batch_sessions": batch.count(),
            "spurious_or_count_mismatch": spurious,
            "unemitted_open_sessions": missing.count(),
            "unemitted_before_horizon": late_missing,
        },
    )


def check_dedup(spark, src: str) -> None:
    """Every text key is planted exactly twice within 0.2 s (well inside
    the watermark), so the streaming within-watermark dedup must agree
    with the batch whole-corpus dropDuplicates: exactly N/2 survivors."""
    stream = stream_dedup_exact(
        open_stream(spark, src), ("text",), watermark=WATERMARK
    )
    wall = run_stream(stream, "dedup")
    got_n = spark.read.parquet(os.path.join(WORK, "out_dedup")).count()
    batch_n = (
        spark.read.parquet(os.path.join(src, "*.parquet"))
        .dropDuplicates(["text"])
        .count()
    )
    report(
        "stream_dedup_within_watermark_vs_batch",
        got_n == batch_n == N // 2,
        wall,
        {"stream_survivors": got_n, "batch_survivors": batch_n, "expected": N // 2},
    )


def check_ffill(spark, src: str) -> None:
    """Cross-batch stateful forward fill vs the batch last-non-null
    window — exact row-for-row equality (in-order file source)."""
    stream = stream_ffill(open_stream(spark, src).drop("text"))
    wall = run_stream(stream, "ffill")
    got = spark.read.parquet(os.path.join(WORK, "out_ffill"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("series")
        .orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    batch = (
        spark.read.parquet(os.path.join(src, "*.parquet"))
        .select(
            "series",
            "timestamp",
            "value",
            F.last("value", ignorenulls=True).over(w).alias("filled"),
        )
    )
    n_got = got.count()
    # null-safe equality: ``value`` is null on planted rows and ``filled``
    # is null before a series' first sample — a plain join would count
    # every such row as a mismatch
    cond = (
        (got["series"] == batch["series"])
        & (got["timestamp"] == batch["timestamp"])
        & got["value"].eqNullSafe(batch["value"])
        & got["filled"].eqNullSafe(batch["filled"])
    )
    mismatches = got.join(batch, cond, "left_anti").count()
    report(
        "stream_ffill_cross_batch_vs_batch_window",
        n_got == N and mismatches == 0,
        wall,
        {"rows": n_got, "mismatches": mismatches},
    )


def check_asof(spark, src: str) -> None:
    """True streaming backward as-of (round 6) at corpus scale: 80% of
    rows form the left stream, 20% the right reference stream (both
    branches of the same in-order file source, per-series keys); output
    must equal the batch asof_join_backward EXACTLY row for row."""
    from solarboat_data_pipeline_spark.operators import timeseries as tsops

    base = open_stream(spark, src).withColumn(
        "bucket", F.pmod(F.hash("series", "timestamp"), F.lit(5))
    )
    left = base.where("bucket != 0").select("series", "timestamp", "value")
    right = base.where("bucket = 0").select(
        "series", "timestamp", F.col("value").alias("ref")
    )
    stream = stream_asof_backward(
        left, right, key_cols=("series",), ts_col="timestamp",
        value_cols=("ref",),
    )
    wall = run_stream(stream, "asof")
    got = spark.read.parquet(os.path.join(WORK, "out_asof"))

    b = spark.read.parquet(os.path.join(src, "*.parquet")).withColumn(
        "bucket", F.pmod(F.hash("series", "timestamp"), F.lit(5))
    )
    bl = b.where("bucket != 0").select("series", "timestamp", "value")
    br = b.where("bucket = 0").select(
        "series", "timestamp", F.col("value").alias("ref")
    )
    batch = tsops.asof_join_backward(
        bl, br, on="timestamp", value_cols=["ref"], partition_cols=("series",)
    )
    n_left = bl.count()
    n_got = got.count()
    cond = (
        (got["series"] == batch["series"])
        & (got["timestamp"] == batch["timestamp"])
        & got["value"].eqNullSafe(batch["value"])
        & got["ref"].eqNullSafe(batch["ref"])
    )
    mismatches = got.join(batch, cond, "left_anti").count()
    report(
        "stream_asof_backward_vs_batch_kernel",
        n_got == n_left and mismatches == 0,
        wall,
        {"left_rows": n_left, "rows": n_got, "mismatches": mismatches},
    )


def check_asof_disorder(spark, src: str) -> None:
    """Round-7: the watermark-buffered kernel's raison d'être. Right rows
    are re-packed into files ordered by (ts + bounded jitter) — a bounded
    cross-batch DISORDER delivery (jitter up to 600 s, well under the
    ~3400 s file span, so disorder crosses batch boundaries but stays
    inside the watermark delay). The in-order kernel measurably
    mismatches the batch kernel on this stream (the round-6 semantics
    cliff, demonstrated); the buffered kernel must match EXACTLY on
    every left row at-or-below the final watermark."""
    from solarboat_data_pipeline_spark.operators import timeseries as tsops

    D_S = 600
    b = spark.read.parquet(os.path.join(src, "*.parquet")).withColumn(
        "bucket", F.pmod(F.hash("series", "timestamp"), F.lit(5))
    )
    br = b.where("bucket = 0").select(
        "series", "timestamp", F.col("value").alias("ref")
    )
    jit = F.pmod(F.hash("series", "timestamp", F.lit(11)), F.lit(D_S * 1_000_000))
    key = F.unix_micros("timestamp") + jit
    lo, hi = br.agg(F.min(key), F.max(key)).first()
    span = (hi - lo) // N_FILES + 1
    rsrc = os.path.join(WORK, "right_disordered")
    shutil.rmtree(rsrc, ignore_errors=True)
    os.makedirs(rsrc)
    tmp = os.path.join(WORK, "_rtmp")
    base_mtime = time.time() - 7200
    withf = br.withColumn("rf", ((key - lo) / span).cast("int"))
    for f in range(N_FILES):
        withf.where(F.col("rf") == f).drop("rf").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(rsrc, f"r_{f:03d}.parquet")
        os.replace(part, dst)
        os.utime(dst, (base_mtime + f, base_mtime + f))
    shutil.rmtree(tmp, ignore_errors=True)

    def streams(delay):
        left = (
            open_stream(spark, src)
            .withColumn(
                "bucket", F.pmod(F.hash("series", "timestamp"), F.lit(5))
            )
            .where("bucket != 0")
            .select("series", "timestamp", "value")
        )
        if delay is not None:
            left = left.withWatermark("timestamp", delay)
        right = (
            spark.readStream.schema("series string, timestamp timestamp, ref double")
            .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
            .parquet(os.path.join(rsrc, "*.parquet"))
        )
        return left, right

    bl = b.where("bucket != 0").select("series", "timestamp", "value")
    batch = tsops.asof_join_backward(
        bl, br, on="timestamp", value_cols=["ref"], partition_cols=("series",)
    )

    def mismatches(got, expect):
        cond = (
            (got["series"] == expect["series"])
            & (got["timestamp"] == expect["timestamp"])
            & got["value"].eqNullSafe(expect["value"])
            & got["ref"].eqNullSafe(expect["ref"])
        )
        return got.join(expect, cond, "left_anti").count()

    # 1. the in-order kernel on the disordered stream: the cliff, measured
    l, r = streams(None)
    wall_u = run_stream(
        stream_asof_backward(
            l, r, key_cols=("series",), ts_col="timestamp", value_cols=("ref",)
        ),
        "asof_disorder_unbuf",
    )
    got_u = spark.read.parquet(os.path.join(WORK, "out_asof_disorder_unbuf"))
    mis_u = mismatches(got_u, batch)

    # 2. the buffered kernel: exact on the emitted set
    l, r = streams(f"{D_S} seconds")
    wall_b = run_stream(
        stream_asof_backward(
            l, r, key_cols=("series",), ts_col="timestamp",
            value_cols=("ref",), buffered=True,
        ),
        "asof_disorder_buf",
    )
    got_b = spark.read.parquet(os.path.join(WORK, "out_asof_disorder_buf"))
    max_left_us = bl.agg(F.max(F.unix_micros("timestamp"))).first()[0]
    cut_ms = max_left_us // 1000 - D_S * 1000  # the engine's ms-floored wm
    expect_b = batch.where(
        (F.unix_micros("timestamp") / 1000).cast("long") <= cut_ms
    )
    n_expect, n_got = expect_b.count(), got_b.count()
    mis_b = mismatches(got_b, expect_b)
    report(
        "stream_asof_buffered_vs_batch_under_disorder",
        mis_b == 0 and n_got == n_expect and mis_u > 0,
        wall_b,
        {
            "unbuffered_mismatches_on_disordered_stream": mis_u,
            "unbuffered_wall_sec": round(wall_u, 2),
            "buffered_rows": n_got,
            "expected_rows": n_expect,
            "buffered_mismatches": mis_b,
        },
    )

    # 3. the LINEAR kernel on the same disordered stream: prev-side
    # exactness is watermark-guaranteed; any emitted left's next right
    # sample lies within the delay window the jitter stays inside, so
    # the blend too must be exact on the emitted set
    l, r = streams(f"{D_S} seconds")
    wall_l = run_stream(
        stream_asof_linear(
            l, r, key_cols=("series",), ts_col="timestamp",
            value_cols=("ref",),
        ),
        "asof_disorder_linear",
    )
    got_l = spark.read.parquet(os.path.join(WORK, "out_asof_disorder_linear"))
    batch_lin = tsops.asof_join_linear(
        bl, br, on="timestamp", value_cols=["ref"], partition_cols=("series",)
    )
    expect_l = batch_lin.where(
        (F.unix_micros("timestamp") / 1000).cast("long") <= cut_ms
    )
    n_expect_l, n_got_l = expect_l.count(), got_l.count()
    mis_l = mismatches(got_l, expect_l)
    report(
        "stream_asof_linear_vs_batch_under_disorder",
        mis_l == 0 and n_got_l == n_expect_l,
        wall_l,
        {"rows": n_got_l, "expected_rows": n_expect_l, "mismatches": mis_l},
    )


def check_asof_auto(spark, src: str) -> None:
    """Round-8 ``buffered="auto"`` kernels at corpus scale. On the
    IN-ORDER stream the backward fast path must equal the batch kernel
    on EVERY left row (it holds nothing back), and the linear frontier
    path likewise — at a wall cost comparable to the in-order kernel,
    which is the point of auto-selection. On the DISORDERED stream
    (reusing the right files check_asof_disorder wrote) auto flips each
    key to the buffered path at its first observed disorder: it must
    never mismatch MORE than the in-order kernel does there (the flip
    only helps), measured and reported."""
    from solarboat_data_pipeline_spark.operators import timeseries as tsops

    b = spark.read.parquet(os.path.join(src, "*.parquet")).withColumn(
        "bucket", F.pmod(F.hash("series", "timestamp"), F.lit(5))
    )
    bl = b.where("bucket != 0").select("series", "timestamp", "value")
    br = b.where("bucket = 0").select(
        "series", "timestamp", F.col("value").alias("ref")
    )
    batch = tsops.asof_join_backward(
        bl, br, on="timestamp", value_cols=["ref"], partition_cols=("series",)
    )

    def mismatches(got, expect):
        cond = (
            (got["series"] == expect["series"])
            & (got["timestamp"] == expect["timestamp"])
            & got["value"].eqNullSafe(expect["value"])
            & got["ref"].eqNullSafe(expect["ref"])
        )
        return got.join(expect, cond, "left_anti").count()

    # 1. in-order: auto backward == batch on all lefts
    base = open_stream(spark, src).withColumn(
        "bucket", F.pmod(F.hash("series", "timestamp"), F.lit(5))
    )
    left = (
        base.where("bucket != 0")
        .select("series", "timestamp", "value")
        .withWatermark("timestamp", "0 seconds")
    )
    right = base.where("bucket = 0").select(
        "series", "timestamp", F.col("value").alias("ref")
    )
    wall = run_stream(
        stream_asof_backward(
            left, right, key_cols=("series",), ts_col="timestamp",
            value_cols=("ref",), buffered="auto",
        ),
        "asof_auto",
    )
    got = spark.read.parquet(os.path.join(WORK, "out_asof_auto"))
    n_left, n_got = bl.count(), got.count()
    mis = mismatches(got, batch)
    report(
        "stream_asof_auto_in_order_vs_batch_kernel",
        n_got == n_left and mis == 0,
        wall,
        {"left_rows": n_left, "rows": n_got, "mismatches": mis},
    )

    # 2. in-order: linear auto == batch on all lefts
    base = open_stream(spark, src).withColumn(
        "bucket", F.pmod(F.hash("series", "timestamp"), F.lit(5))
    )
    left = (
        base.where("bucket != 0")
        .select("series", "timestamp", "value")
        .withWatermark("timestamp", "0 seconds")
    )
    right = base.where("bucket = 0").select(
        "series", "timestamp", F.col("value").alias("ref")
    )
    wall_l = run_stream(
        stream_asof_linear(
            left, right, key_cols=("series",), ts_col="timestamp",
            value_cols=("ref",), auto=True,
        ),
        "asof_auto_linear",
    )
    got_l = spark.read.parquet(os.path.join(WORK, "out_asof_auto_linear"))
    batch_lin = tsops.asof_join_linear(
        bl, br, on="timestamp", value_cols=["ref"], partition_cols=("series",)
    )
    n_got_l = got_l.count()
    mis_l = mismatches(got_l, batch_lin)
    report(
        "stream_asof_auto_linear_in_order_vs_batch_kernel",
        n_got_l == n_left and mis_l == 0,
        wall_l,
        {"left_rows": n_left, "rows": n_got_l, "mismatches": mis_l},
    )

    # 3. disordered: auto's mismatch count never exceeds the in-order
    # kernel's (reuses check_asof_disorder's right files + its reported
    # unbuffered mismatch count)
    D_S = 600
    rsrc = os.path.join(WORK, "right_disordered")
    mis_unbuf = next(
        r for r in results
        if r["check"] == "stream_asof_buffered_vs_batch_under_disorder"
    )["unbuffered_mismatches_on_disordered_stream"]
    left = (
        open_stream(spark, src)
        .withColumn("bucket", F.pmod(F.hash("series", "timestamp"), F.lit(5)))
        .where("bucket != 0")
        .select("series", "timestamp", "value")
        .withWatermark("timestamp", f"{D_S} seconds")
    )
    right = (
        spark.readStream.schema("series string, timestamp timestamp, ref double")
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(os.path.join(rsrc, "*.parquet"))
    )
    wall_d = run_stream(
        stream_asof_backward(
            left, right, key_cols=("series",), ts_col="timestamp",
            value_cols=("ref",), buffered="auto",
        ),
        "asof_auto_disorder",
    )
    got_d = spark.read.parquet(os.path.join(WORK, "out_asof_auto_disorder"))
    mis_d = mismatches(got_d, batch)
    report(
        "stream_asof_auto_under_disorder_flips_toward_buffered",
        mis_d <= mis_unbuf,
        wall_d,
        {
            "auto_mismatches": mis_d,
            "in_order_kernel_mismatches": mis_unbuf,
            "rows": got_d.count(),
        },
    )


def check_asof_linear(spark, src: str) -> None:
    """Round-7 streaming linear-interpolate as-of (the J3 analogue) at
    corpus scale, in-order delivery: the emitted output must equal the
    batch asof_join_linear EXACTLY on every left row — including blends
    whose next right sample lies in a later micro-batch (the buffered
    kernel holds those lefts until the watermark passes them)."""
    from solarboat_data_pipeline_spark.operators import timeseries as tsops

    base = open_stream(spark, src).withColumn(
        "bucket", F.pmod(F.hash("series", "timestamp"), F.lit(5))
    )
    left = (
        base.where("bucket != 0")
        .select("series", "timestamp", "value")
        .withWatermark("timestamp", "0 seconds")
    )
    right = base.where("bucket = 0").select(
        "series", "timestamp", F.col("value").alias("ref")
    )
    stream = stream_asof_linear(
        left, right, key_cols=("series",), ts_col="timestamp",
        value_cols=("ref",),
    )
    wall = run_stream(stream, "asof_linear")
    got = spark.read.parquet(os.path.join(WORK, "out_asof_linear"))

    b = spark.read.parquet(os.path.join(src, "*.parquet")).withColumn(
        "bucket", F.pmod(F.hash("series", "timestamp"), F.lit(5))
    )
    bl = b.where("bucket != 0").select("series", "timestamp", "value")
    br = b.where("bucket = 0").select(
        "series", "timestamp", F.col("value").alias("ref")
    )
    batch = tsops.asof_join_linear(
        bl, br, on="timestamp", value_cols=["ref"], partition_cols=("series",)
    )
    n_left = bl.count()
    n_got = got.count()
    cond = (
        (got["series"] == batch["series"])
        & (got["timestamp"] == batch["timestamp"])
        & got["value"].eqNullSafe(batch["value"])
        & got["ref"].eqNullSafe(batch["ref"])
    )
    mis = got.join(batch, cond, "left_anti").count()
    report(
        "stream_asof_linear_vs_batch_kernel",
        n_got == n_left and mis == 0,
        wall,
        {"left_rows": n_left, "rows": n_got, "mismatches": mis},
    )


def check_ffill_kill(spark, src: str) -> None:
    """Forced mid-stream kill: stop the ffill query right after its FIRST
    committed micro-batch (pending files remain), restart from the same
    checkpoint, drain, and require exactly-once output — row count equal
    to the corpus and row-for-row equality with the batch window kernel
    (state must survive the kill)."""
    def start(out, ckpt):
        return (
            stream_ffill(open_stream(spark, src).drop("text"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # the stop only proves anything if it lands BETWEEN micro-batches
    # with pending files; on a fast enough box the whole backlog can
    # commit before lastProgress first reports rows, so retry the kill
    # on a fresh checkpoint until it genuinely lands mid-stream
    t0 = time.perf_counter()
    partial = -1
    killed_midstream = False
    for attempt in range(5):
        out = os.path.join(WORK, f"out_ffill_kill_{attempt}")
        ckpt = os.path.join(WORK, f"ckpt_ffill_kill_{attempt}")
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        q = start(out, ckpt)
        while True:
            p = q.lastProgress
            if p and p.get("numInputRows", 0) > 0:
                q.stop()
                q.awaitTermination()
                break
            if not q.isActive:  # backlog finished before we could kill
                break
            time.sleep(0.05)
        partial = spark.read.parquet(out).count()
        killed_midstream = 0 < partial < N
        if killed_midstream:
            break
    q2 = start(out, ckpt)
    q2.awaitTermination()
    wall = time.perf_counter() - t0

    got = spark.read.parquet(out)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("series")
        .orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    batch = spark.read.parquet(os.path.join(src, "*.parquet")).select(
        "series",
        "timestamp",
        "value",
        F.last("value", ignorenulls=True).over(w).alias("filled"),
    )
    n_got = got.count()
    cond = (
        (got["series"] == batch["series"])
        & (got["timestamp"] == batch["timestamp"])
        & got["value"].eqNullSafe(batch["value"])
        & got["filled"].eqNullSafe(batch["filled"])
    )
    mismatches = got.join(batch, cond, "left_anti").count()
    report(
        "stream_ffill_exactly_once_after_forced_kill",
        killed_midstream and n_got == N and mismatches == 0,
        wall,
        {
            "rows_at_kill": partial,
            "rows_final": n_got,
            "mismatches": mismatches,
            "killed_midstream": killed_midstream,
        },
    )


def check_decode_wide(spark) -> None:
    """The streaming WIDE decode at scale — candump text lines (10%
    same-µs duplicate pairs) streamed as a real multi-micro-batch
    backlog, cell-compared against the batch long decode pivoted to the
    wide schema (independent of the shuffle form the stream shares with
    batch decode_wide past its duplicate cap), with the
    state-boundedness claim MEASURED: peak aggregation-state rows must stay ~one batch's unique
    timestamps (state retires as the watermark passes), never the
    corpus total."""
    from solarboat_data_pipeline_spark.catalog import CanCatalog
    from solarboat_data_pipeline_spark.operators.parse import (
        decode_long,
        pivot_wide,
        with_frame_meta,
        with_timestamp,
    )
    from solarboat_data_pipeline_spark.sources.candump import extract_frames
    from solarboat_data_pipeline_spark.streaming.pipeline import (
        stream_decode_wide,
    )

    n_lines = max(200_000, N // 10)
    src = os.path.join(WORK, "candump_text")
    os.makedirs(src, exist_ok=True)
    per_file = n_lines // N_FILES
    tmp = os.path.join(WORK, "_gen_candump_tmp")
    catalog = CanCatalog.from_dict({
        "version": "smoke-swd-0.1",
        "modules": [{
            "name": "SB", "signature": 250, "topics": [{
                "name": "W", "id": 21, "bytes": [
                    {"name": "SIGNATURE", "type": "uint8_t", "units": ""},
                    {"name": "VAL_L", "type": "uint16_t", "units": "V/100"},
                    {"name": "VAL_H", "type": "uint16_t", "units": "V/100"},
                    {"name": "D", "type": "uint8_t", "units": ""},
                ],
            }],
        }],
    })

    def payload(v16, v8):
        return F.concat(
            F.lit("fa"),
            F.lpad(F.lower(F.hex(v16 % 256)), 2, "0"),
            F.lpad(F.lower(F.hex(F.shiftright(v16, 8))), 2, "0"),
            F.lpad(F.lower(F.hex(v8)), 2, "0"),
        )

    for f in range(N_FILES):
        df = spark.range(f * per_file, (f + 1) * per_file)
        # 10-digit epoch: FRAME_REGEX requires \d{10} seconds
        ts6 = (F.lit(1_600_000_000.0) + F.col("id") * 0.1)
        line1 = F.format_string(
            "(%.6f) can0 015#%s", ts6,
            payload(F.col("id") % 60000, F.col("id") % 256),
        )
        # every 10th line: a same-µs duplicate with a different value —
        # adjacent in the same file, so the merge is in-state, and the
        # A1 mean must come out
        line2 = F.format_string(
            "(%.6f) can0 015#%s", ts6,
            payload((F.col("id") * 3) % 60000, (F.col("id") + 13) % 256),
        )
        lines = df.select(
            F.concat(
                line1,
                F.when(F.col("id") % 10 == 0,
                       F.concat(F.lit("\n"), line2)).otherwise(F.lit("")),
            ).alias("value")
        )
        lines.coalesce(1).write.mode("overwrite").text(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.txt"))[0]
        os.replace(part, os.path.join(src, f"lines_{f:03d}.log"))
    shutil.rmtree(tmp, ignore_errors=True)

    stream_lines = (
        spark.readStream.option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .text(os.path.join(src, "*.log"))
    )
    frames = with_frame_meta(
        with_timestamp(extract_frames(stream_lines, with_order=False))
    )
    wide = stream_decode_wide(frames, catalog, watermark=WATERMARK,
                              downcast=False)
    out = os.path.join(WORK, "out_decode_wide")
    ckpt = os.path.join(WORK, "ckpt_decode_wide")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    t0 = time.perf_counter()
    q = (
        wide.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    peak_state = 0
    while q.isActive:
        p = q.lastProgress
        if p and p.get("stateOperators"):
            peak_state = max(peak_state, p["stateOperators"][0]["numRowsTotal"])
        q.awaitTermination(1)
    p = q.lastProgress
    if p and p.get("stateOperators"):
        peak_state = max(peak_state, p["stateOperators"][0]["numRowsTotal"])
    wall = time.perf_counter() - t0

    got = spark.read.parquet(out)
    batch_lines = spark.read.text(os.path.join(src, "*.log"))
    bframes = with_frame_meta(
        with_timestamp(extract_frames(batch_lines, with_order=False))
    )
    batch = pivot_wide(decode_long(bframes, catalog), catalog, strategy="map")
    keys = ["timestamp"]
    j = got.select("timestamp",
                   F.col("SB__W__VAL").alias("g_val"),
                   F.col("SB__W__D").alias("g_d")).join(
        batch.select("timestamp", "SB__W__VAL", "SB__W__D"), keys, "inner")
    mismatch = j.where(
        (F.abs(F.col("g_val") - F.col("SB__W__VAL")) > 1e-9)
        | (F.abs(F.col("g_d") - F.col("SB__W__D")) > 1e-9)
    ).count()
    n_got, n_batch = got.count(), batch.count()
    missing = n_batch - n_got
    # tail tolerance: keys the final watermark has not passed
    horizon_rows = int((WM_S + 2.0) / 0.1) + 2
    # state must retire across batches: ~one batch of unique timestamps,
    # never the corpus total (5 micro-batches -> batch is 20% of total)
    state_bounded = peak_state <= 0.35 * n_batch
    report(
        "stream_decode_wide_vs_batch_long",
        n_batch > n_lines * 0.9  # non-vacuous: the corpus actually decoded
        and mismatch == 0 and 0 <= missing <= horizon_rows and state_bounded,
        wall,
        {
            "lines": n_lines,
            "lines_per_sec": round(n_lines / wall) if wall else None,
            "emitted_rows": n_got,
            "batch_rows": n_batch,
            "value_mismatches": mismatch,
            "unemitted_tail_rows": missing,
            "peak_state_rows": peak_state,
            "state_bound_rows": int(0.35 * n_batch),
        },
    )


def main() -> None:
    spark = get_spark(app_name="stream-smoke")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    src = os.path.join(WORK, "events")
    t0 = time.perf_counter()
    generate(spark, src)
    print(
        json.dumps(
            {
                "stage": "generate",
                "events": N,
                "files": N_FILES,
                "sec": round(time.perf_counter() - t0, 2),
            }
        ),
        flush=True,
    )
    max_ts = (
        spark.read.parquet(os.path.join(src, "*.parquet"))
        .agg(F.max(F.unix_micros("timestamp")))
        .first()[0]
        / 1e6
    )

    check_resample(spark, src, max_ts)
    check_sessionize(spark, src, max_ts)
    check_asof(spark, src)
    check_asof_disorder(spark, src)
    check_asof_auto(spark, src)  # reuses the disordered right files
    check_asof_linear(spark, src)
    check_dedup(spark, src)
    check_ffill(spark, src)
    check_ffill_kill(spark, src)
    check_decode_wide(spark)

    all_agree = all(r["agree"] for r in results)
    print(
        json.dumps(
            {
                "metric": "stream_smoke",
                "events": N,
                "micro_batches": N_FILES // FILES_PER_TRIGGER,
                "all_agree": all_agree,
                "events_per_sec": {
                    r["check"]: r["events_per_sec"] for r in results
                },
            }
        )
    )
    if not all_agree:
        sys.exit(1)


if __name__ == "__main__":
    main()
