"""Streaming materialized aggregates: exactly-once incremental rollups.

The fact-side twin of streaming/dimensions.py (which maintains SCD2
dimensions): keep a per-key (count, sum) rollup of an event stream
continuously up to date, with EXACTLY-ONCE semantics on a plain parquet
sink — no transactional table format required.

The trick is idempotent partials, not in-place merge:

- each micro-batch writes its PARTIAL aggregate (count/sum per key for
  just that batch) to a ``batch_id=N`` subdirectory, overwriting it —
  a retried batch (foreachBatch is at-least-once) rewrites the same
  subdir with the same deterministic content instead of double-counting
  into a running total;
- the materialized view is the re-aggregation of all partials (sums of
  sums, sums of counts — both algebraic, so partials merge without the
  raw data); avg and friends derive from (sum, count) at read time;
- partial files accrete like any streaming sink's — compaction is the
  existing :func:`..sources.parquet.compact_parquet` maintenance pass,
  applied per key-range, and a periodic "roll-up the partials into one
  base partial" pass keeps read-side fan-in bounded.

Scale: per batch this shuffles only that batch's rows (one partial
agg); the read-side merge shuffles only (key × n_partials) aggregate
rows, never the raw stream. Compare the alternative — merging into a
running-total table per batch — which rewrites the whole rollup every
trigger AND double-counts on retry.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTIAL_DIRNAME = "batch_id={n}"


def write_partial_aggregate(
    batch: DataFrame,
    batch_id: int,
    path: str,
    key_cols: list[str],
    value_col: str,
) -> None:
    """Aggregate ONE micro-batch to (key → n, total) and overwrite its
    batch-id-keyed subdirectory. Deterministic content + fixed location
    = idempotent under foreachBatch retries."""
    partial = batch.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col).cast("double")).alias("total"),
    )
    partial.write.mode("overwrite").parquet(
        os.path.join(path, PARTIAL_DIRNAME.format(n=batch_id))
    )


def materialize_rollup_stream(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    value_col: str,
    checkpoint: str,
):
    """Wire a stream into the partial-aggregate sink; returns the
    DataStreamWriter (caller picks the trigger and starts it)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        write_partial_aggregate(batch, batch_id, path, key_cols, value_col)

    return stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )


def read_rollup(
    spark: SparkSession, path: str, key_cols: list[str]
) -> DataFrame:
    """Current totals: merge all partials (algebraic re-aggregation).

    ``avg_value`` is derived from (sum, count) here — the reason the
    partials store those and not averages (averages don't merge)."""
    partials = spark.read.option("basePath", path).parquet(path)
    return (
        partials.groupBy(*key_cols)
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("total").alias("total_value"),
        )
        .withColumn(
            "avg_value", F.col("total_value") / F.col("n_events").cast("double")
        )
    )


# Driver-side I/O accounting for the compaction maintenance paths:
# bytes/files written by every compact_partials fold since reset.
# Lets tests (and operators) ASSERT rewrite-volume claims — the r11
# tiered dedup-store compaction exists precisely to shrink
# bytes_written vs the naive full fold, and a counter is the only way
# to keep that property from silently regressing.
COMPACTION_IO = {"bytes_written": 0, "folds": 0}


def reset_compaction_io() -> None:
    COMPACTION_IO["bytes_written"] = 0
    COMPACTION_IO["folds"] = 0


def compact_partials(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    base_batch_id: int = -1,
    fold=None,
    before_batch: int | None = None,
    after_batch: int | None = None,
) -> int:
    """Fold ALL partials (including any previous base) into one base
    partial, keeping read-side merge fan-in bounded.

    ``fold`` customizes the merge algebra: a callable taking the
    combined partial DataFrame (partition column ``batch_id``
    included) and returning the folded frame WITHOUT ``batch_id``.
    Default: the (n, total) additive rollup this module's count/sum
    partials use. Latest-per-key state layouts (streaming/cep.py) pass
    a max-batch_id fold instead — the crash-safe manifest swap is
    identical either way.

    Long-running rollups accrete one partial per micro-batch; this
    maintenance pass re-aggregates every ``batch_id=*`` directory into
    ``batch_id=base_batch_id`` (−1 by convention — below any real batch
    id) and removes the originals. Run it with the stream writer paused
    (like any file-level maintenance on a non-transactional table) —
    OR from inside ``foreachBatch`` (naturally quiescent) with
    ``before_batch`` set to the CURRENT batch id: only partials with
    ``batch_id < before_batch`` fold, so a crash-replay of the current
    batch still cannot see its own output through the base (committed
    batches below the running one never replay; folding the current
    batch's partial would smuggle it past the reader's
    ``batch_id < N`` pruning).

    ``after_batch`` bounds the selection from BELOW (strict): only
    partials with ``after_batch < batch_id < before_batch`` fold. The
    tiered dedup-store compactor uses ``after_batch=-1`` to fold ONLY
    the level-0 per-batch dirs (ids ≥ 0) into a fresh level-1 run,
    leaving existing runs and the base in place (VERDICT r10 #1).
    The target (``base_batch_id``) must either not exist yet or be one
    of the folded inputs — both hold for every caller (a fresh run id,
    or a base that is itself re-folded).

    Crash safety (re-run to converge): the fold is written to a temp
    dir first, then a manifest (``_FOLDED.json``, recording exactly the
    input dirs AND the target id — the target matters since r11: the
    NEXT compaction call on this path may aim at a different tier, and
    recovery must land the crashed fold where IT was going, not where
    the new call is going) marks it complete, and only then are inputs
    deleted and the base renamed into place. A re-run after a crash
    either finds the manifest (fold complete → finish deleting the
    listed inputs and rename to the RECORDED target) or not (fold
    incomplete → discard temp and redo from the untouched inputs).
    Returns the number of directories folded (0 = nothing to do).
    """
    import json
    import shutil

    tmp = os.path.join(path, "__compact_tmp")
    marker = os.path.join(tmp, "_FOLDED.json")

    def finish(folded: list[str], target: int) -> None:
        # ORDER MATTERS: the marker must outlive every destructive step
        # until the rename lands. Deleting the marker before the rename
        # (the original order) left a window where a crash had already
        # destroyed the inputs but the re-run saw "no marker, tmp
        # exists" and discarded the fold — losing the folded history
        # (caught by the round-9 mid-compaction pipeline crash test).
        # Renaming tmp carries the marker INTO the base dir; underscore
        # files are invisible to Spark reads, and the final remove is
        # pure cleanup (a crash before it leaves an inert file).
        for d in folded:
            full = os.path.join(path, d)
            if os.path.exists(full):
                shutil.rmtree(full)
        base = os.path.join(path, PARTIAL_DIRNAME.format(n=target))
        os.rename(tmp, base)
        leftover = os.path.join(base, "_FOLDED.json")
        if os.path.exists(leftover):
            os.remove(leftover)

    if os.path.exists(marker):  # crashed between fold and swap: finish it
        recorded = json.load(open(marker))
        if isinstance(recorded, list):  # pre-r11 manifest: dirs only
            folded, target = recorded, base_batch_id
        else:
            folded, target = recorded["inputs"], recorded["target"]
        finish(folded, target)
        return len(folded)
    if os.path.exists(tmp):  # crashed mid-fold: inputs untouched, redo
        shutil.rmtree(tmp)

    partial_dirs = sorted(
        d
        for d in os.listdir(path)
        if d.startswith("batch_id=")
        and (before_batch is None or int(d.split("=", 1)[1]) < before_batch)
        and (after_batch is None or int(d.split("=", 1)[1]) > after_batch)
    )
    target_dir = PARTIAL_DIRNAME.format(n=base_batch_id)
    if not partial_dirs or partial_dirs == [target_dir]:
        return 0
    combined = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, d) for d in partial_dirs]
    )
    if fold is None:
        merged = combined.groupBy(*key_cols).agg(
            F.sum("n").alias("n"), F.sum("total").alias("total")
        )
    else:
        merged = fold(combined)
    merged.write.mode("overwrite").parquet(tmp)
    COMPACTION_IO["bytes_written"] += sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(tmp)
        for f in fs
    )
    COMPACTION_IO["folds"] += 1
    with open(marker, "w") as fh:
        json.dump({"inputs": partial_dirs, "target": base_batch_id}, fh)
    finish(partial_dirs, base_batch_id)
    return len(partial_dirs)


# ---------------------------------------------------------------------------
# Streaming KMV sketches: the same idempotent-partials shape carrying a
# distinct-count sketch instead of (count, sum). STRONGER merge
# algebra than sums: KMV merge is set-union + k-min — idempotent and
# commutative — so a retried batch rewriting its partial is safe like
# the sums are, AND the same event appearing in MULTIPLE batches
# cannot corrupt the estimate (sums double-count across batches by
# design; distinct-by-hash absorbs duplicates). The partials store
# ONLY the sketch arrays: a batch's local distinct count is not
# mergeable and is dropped rather than misread downstream.
# ---------------------------------------------------------------------------
def write_partial_kmv(
    batch: DataFrame,
    batch_id: int,
    path: str,
    ts_col: str,
    key_col: str,
    k: int = 64,
) -> None:
    """Sketch ONE micro-batch per day and overwrite its batch-id-keyed
    subdirectory (deterministic content + fixed location = idempotent
    under foreachBatch retries)."""
    from airbnb_pyspark_jobs_spark.operators.sketches import kmv_daily_sketches

    partial = kmv_daily_sketches(batch, ts_col, key_col, k).select("day", "kmv")
    partial.write.mode("overwrite").parquet(
        os.path.join(path, PARTIAL_DIRNAME.format(n=batch_id))
    )


def materialize_kmv_stream(
    stream: DataFrame,
    path: str,
    ts_col: str,
    key_col: str,
    checkpoint: str,
    k: int = 64,
):
    """Wire a stream into the per-day KMV partial sink; returns the
    DataStreamWriter (caller picks the trigger and starts it)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        write_partial_kmv(batch, batch_id, path, ts_col, key_col, k)

    return stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )


def read_kmv_rollup(spark: SparkSession, path: str, k: int = 64) -> DataFrame:
    """Current per-day distinct estimates from all partials: explode the
    sketch arrays, distinct-union per day, keep the k smallest (merge
    closure: this IS the day's sketch over everything seen), estimate.
    Shuffles only sketch-sized rows (≤ partials × k per day)."""
    from pyspark.sql.window import Window

    from airbnb_pyspark_jobs_spark.operators.sketches import kmv_estimate

    partials = spark.read.option("basePath", path).parquet(path)
    merged = (
        partials.select("day", F.explode("kmv").alias("h"))
        .distinct()
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("day").orderBy("h")),
        )
        .filter(F.col("__rn") <= k)
        .groupBy("day")
        .agg(F.sort_array(F.collect_list("h")).alias("kmv"))
    )
    return merged.select(
        "day",
        F.size("kmv").cast("bigint").alias("n_kept"),
        kmv_estimate(F.col("kmv"), k).alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# Streaming bottom-k quantile-sample maintenance — the quantile twin
# of the KMV block above, same algebra: the sketch is a SET of (h, v)
# points (k smallest by deterministic hash), merge = set-union +
# k-min. Idempotent AND duplicate-absorbing, so at-least-once
# foreachBatch retries and overlapping batches cannot bias the
# sample where a reservoir/KLL (stateful, randomized) would need
# exactly-once plumbing.
# ---------------------------------------------------------------------------
def write_partial_bottomk(
    batch: DataFrame,
    batch_id: int,
    path: str,
    ts_col: str,
    value_col: str,
    key_col: str,
    k: int = 256,
) -> None:
    """Sample ONE micro-batch per day and overwrite its batch-id-keyed
    subdirectory (idempotent under retries, like the KMV partial)."""
    from airbnb_pyspark_jobs_spark.operators.sketches import bottomk_sample_sketches

    partial = bottomk_sample_sketches(batch, ts_col, value_col, key_col, k).select(
        "day", "sample"
    )
    partial.write.mode("overwrite").parquet(
        os.path.join(path, PARTIAL_DIRNAME.format(n=batch_id))
    )


def materialize_bottomk_stream(
    stream: DataFrame,
    path: str,
    ts_col: str,
    value_col: str,
    key_col: str,
    checkpoint: str,
    k: int = 256,
):
    """Wire a stream into the per-day bottom-k sample sink; returns
    the DataStreamWriter (caller picks the trigger and starts it)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        write_partial_bottomk(batch, batch_id, path, ts_col, value_col, key_col, k)

    return stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )


def read_bottomk_sample(spark: SparkSession, path: str, k: int = 256) -> DataFrame:
    """Current merged (h, v) sample over ALL days from the stored
    partials: explode, distinct set-union, keep the k smallest (merge
    closure — this IS the bottom-k sample of everything seen). Feed to
    ``operators.sketches.sample_quantiles`` for estimates. Shuffles
    only sketch-sized rows (≤ partials × k)."""
    from airbnb_pyspark_jobs_spark.operators.sketches import bottomk_sample_merge

    partials = spark.read.option("basePath", path).parquet(path)
    return bottomk_sample_merge(partials, k)


def write_partial_cms(
    batch: DataFrame,
    batch_id: int,
    path: str,
    key_col: str,
    weight_col: str,
    d: int = 4,
    w: int = 256,
) -> None:
    """Build ONE micro-batch's d×w CMS counter table and overwrite its
    batch-id-keyed subdirectory. CMS counters are SUMS, so the merge
    across partials is (r, b) addition; the batch-id overwrite makes a
    RETRIED batch rewrite identical content instead of double-counting
    (same contract as ``write_partial_aggregate`` — additive partials
    are retry-safe via idempotent placement, though unlike the
    set-union KMV/bottom-k partials they still count source-side
    duplicate DELIVERIES; use those for duplicate-unsafe sources)."""
    from airbnb_pyspark_jobs_spark.operators.sketches import cms_counters

    partial = cms_counters(batch, key_col, weight_col, d, w)
    partial.write.mode("overwrite").parquet(
        os.path.join(path, PARTIAL_DIRNAME.format(n=batch_id))
    )


def materialize_cms_stream(
    stream: DataFrame,
    path: str,
    key_col: str,
    weight_col: str,
    checkpoint: str,
    d: int = 4,
    w: int = 256,
):
    """Wire a stream into the CMS partial-counter sink; returns the
    DataStreamWriter (caller picks the trigger and starts it)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        write_partial_cms(batch, batch_id, path, key_col, weight_col, d, w)

    return stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )


def read_cms_counters(spark: SparkSession, path: str) -> DataFrame:
    """Merged (r, b, cnt) counter table over all stored partials —
    counter addition IS the CMS merge, so this equals the sketch built
    over everything seen. Feed to ``operators.sketches.cms_estimates``.
    Shuffles only sketch-sized rows (≤ partials × d·w)."""
    partials = spark.read.option("basePath", path).parquet(path)
    return (
        partials.groupBy("r", "b")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def write_partial_event_counts(
    batch: DataFrame, batch_id: int, path: str, ts_col: str = "ts"
) -> None:
    """Count ONE micro-batch per (event_type, day) and overwrite its
    batch-id-keyed subdirectory. Counts are algebraic: the rollup
    re-sums partials, so late/out-of-order batches need no ordering
    guarantee; deterministic content + fixed location = idempotent
    under foreachBatch retries (same-batch rewrite lands on itself)."""
    partial = batch.groupBy(
        "event_type", F.to_date(ts_col).alias("__day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    partial.write.mode("overwrite").parquet(
        os.path.join(path, PARTIAL_DIRNAME.format(n=batch_id))
    )


def materialize_cusum_stream(
    stream: DataFrame, path: str, checkpoint: str, ts_col: str = "ts"
):
    """Wire a stream into the per-day count-partial sink; returns the
    DataStreamWriter (caller picks the trigger and starts it)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        write_partial_event_counts(batch, batch_id, path, ts_col)

    return stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )


def read_cusum_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Current CUSUM monitor state from all partials: re-sum the
    per-batch daily counts (algebraic merge — identical to the batch
    daily frame by commutativity), then run the SAME
    cusum_daily_volumes core as q195. Batch/stream parity is exact
    because everything downstream of the counts is integer arithmetic.
    Shuffles only partial-sized rows (days x types x batches)."""
    from airbnb_pyspark_jobs_spark.operators.windows import cusum_daily_volumes

    partials = spark.read.option("basePath", path).parquet(path)
    daily = partials.groupBy("event_type", "__day").agg(
        F.sum("n_events").cast("bigint").alias("n_events")
    )
    return cusum_daily_volumes(daily)


def write_partial_hll(
    batch: DataFrame,
    batch_id: int,
    path: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    p: int = 4,
) -> None:
    """Sketch ONE micro-batch into per-day portable-HLL registers and
    overwrite its batch-id-keyed subdirectory. Registers are integer
    MAXes — idempotent and mergeable across any batch split, the
    property KMV gets from set union and counts do NOT have (a count
    partial re-added double-counts; a register re-maxed is a no-op)."""
    from airbnb_pyspark_jobs_spark.operators.sketches import hll_registers

    days = batch.select(
        F.to_date(ts_col).cast("string").alias("scope"), key_col
    )
    partial = hll_registers(days, ["scope"], key_col, p=p)
    partial.write.mode("overwrite").parquet(
        os.path.join(path, PARTIAL_DIRNAME.format(n=batch_id))
    )


def materialize_hll_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    p: int = 4,
):
    """Wire a stream into the per-day HLL register sink; returns the
    DataStreamWriter (caller picks the trigger and starts it)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        write_partial_hll(batch, batch_id, path, ts_col, key_col, p)

    return stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )


def read_hll_rollup(spark: SparkSession, path: str, p: int = 4) -> DataFrame:
    """Current per-day distinct estimates from all register partials:
    element-wise MAX per (day, bucket) — register merge closure — then
    the same exact-arithmetic estimate as q194. Shuffles only
    register-sized rows (days x 2^p x batches)."""
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        hll_estimate_from_registers,
    )

    partials = spark.read.option("basePath", path).parquet(path)
    merged = partials.groupBy("scope", "bucket").agg(
        F.max("register").cast("int").alias("register")
    )
    return hll_estimate_from_registers(merged, ["scope"], p=p)


# ---------------------------------------------------------------------------
# Streaming PSI drift monitor — the incremental twin of batch q251:
# bucket counts are ALGEBRAIC (sums merge), so the monitor keeps
# idempotent per-batch partial histograms (the write_partial_aggregate
# pattern: batch-id-keyed overwrite = retry-safe) against a FROZEN
# reference histogram + bucket edges captured at profiling time, and
# the read side merges partials and finishes the exact q251 PSI math
# (Laplace-smoothed 9-dp shares, 12-dp DECIMAL-summed ln terms,
# integer round-half-away). Replaying the current window through any
# batch split yields the identical PSI to the batch query — asserted
# in tests.
# ---------------------------------------------------------------------------
def psi_bucket_counts(
    df: DataFrame, mn_cents: int, ext_cents: int, n_buckets: int = 10
) -> DataFrame:
    """(event_type, bucket) value-histogram with the FROZEN integer
    edges: bucket = greatest(0, least((cents − mn)·B div ext, B−1)).
    The clamp is SYMMETRIC: values above the frozen range land in the
    top bucket AND values below ``mn_cents`` land in bucket 0 — a
    negative bucket would silently fall off read_psi_drift's 0..B−1
    grid join, making a DOWNWARD distribution shift (exactly what a
    PSI monitor must catch) invisible and under-counting n_cur."""
    return (
        df.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.greatest(
                F.lit(0).cast("bigint"),
                F.least(
                    F.expr(
                        f"(cast(round(value * 100) as bigint) - {int(mn_cents)})"
                        f" * {int(n_buckets)} div {int(ext_cents)}"
                    ),
                    F.lit(int(n_buckets) - 1),
                ),
            )
            .cast("bigint")
            .alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def materialize_psi_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    mn_cents: int,
    ext_cents: int,
    n_buckets: int = 10,
):
    """Wire an event stream into per-batch partial histograms; returns
    the DataStreamWriter (caller starts it)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        psi_bucket_counts(batch, mn_cents, ext_cents, n_buckets).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, PARTIAL_DIRNAME.format(n=batch_id)))

    return stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )


def read_psi_drift(
    spark: SparkSession,
    path: str,
    reference: DataFrame,
    n_buckets: int = 10,
) -> DataFrame:
    """Merge the partial histograms and score PSI per event type
    against ``reference`` (a (event_type, bucket, n) frame frozen at
    profiling time). Identical numeric path to q251."""
    from airbnb_pyspark_jobs_spark.functions.numeric import (
        decimal_ratio_round,
        exact_mean_round,
    )

    cur = (
        spark.read.option("basePath", path)
        .parquet(path)
        .groupBy("event_type", "bucket")
        .agg(F.sum("n").cast("bigint").alias("__nc"))
    )
    ref = reference.select(
        "event_type", "bucket", F.col("n").cast("bigint").alias("__nr")
    )
    types = (
        ref.select("event_type")
        .unionByName(cur.select("event_type"))
        .distinct()
    )
    grid = types.crossJoin(
        F.broadcast(
            spark.range(n_buckets).select(F.col("id").cast("bigint").alias("bucket"))
        )
    )
    cells = (
        grid.join(ref, ["event_type", "bucket"], "left")
        .join(cur, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("__nr", F.lit(0)).cast("bigint").alias("__nr"),
            F.coalesce("__nc", F.lit(0)).cast("bigint").alias("__nc"),
        )
    )
    tots = cells.groupBy("event_type").agg(
        F.sum("__nr").cast("bigint").alias("__tnr"),
        F.sum("__nc").cast("bigint").alias("__tnc"),
    )
    shares = cells.join(F.broadcast(tots), "event_type").select(
        "event_type",
        "__tnr",
        "__tnc",
        decimal_ratio_round(
            F.col("__nr") + 1, F.col("__tnr") + n_buckets, 9
        ).alias("__p"),
        decimal_ratio_round(
            F.col("__nc") + 1, F.col("__tnc") + n_buckets, 9
        ).alias("__q"),
    )
    return shares.groupBy("event_type").agg(
        F.max("__tnr").alias("n_ref"),
        F.max("__tnc").alias("n_cur"),
        exact_mean_round(
            F.sum(
                F.round(
                    (F.col("__p") - F.col("__q"))
                    * F.log(F.col("__p") / F.col("__q")),
                    12,
                ).cast("decimal(28,12)")
            ),
            F.lit(1).cast("bigint"),
            6,
            sum_scale=12,
        ).alias("psi"),
    )


def materialize_fingerprint_spectrum(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    n_windows: int = 8,
    window: int = 64,
):
    """Streaming twin of the q322 audio-fingerprint collision spectrum:
    each micro-batch fingerprints its media payloads
    (:func:`..operators.multimodal.audio_fingerprints` — a pure per-row
    function, so per-batch spectra SUM to the batch spectrum) and
    writes one idempotent ``(fingerprint → n, total payload bytes)``
    partial via :func:`write_partial_aggregate`. Read side:
    :func:`read_rollup` with ``key_cols=["fingerprint"]``; long-running
    streams bound fan-in with :func:`compact_partials` as usual.
    Returns the DataStreamWriter (caller picks the trigger and starts).
    """
    from airbnb_pyspark_jobs_spark.operators.multimodal import audio_fingerprints

    def sink(batch: DataFrame, batch_id: int) -> None:
        fp = audio_fingerprints(batch, n_windows=n_windows, window=window)
        write_partial_aggregate(fp, batch_id, path, ["fingerprint"], "n_bytes")

    return stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )


# ---------------------------------------------------------------------------
# Streaming Good-Turing novelty monitor (the q327 twin): per-batch
# (source, bigram) COUNT partials — the same additive, idempotent
# batch_id-keyed shape as the rollup sums, so retries overwrite
# byte-identically and compact_partials' default-algebra cousin
# applies (fold = grouped count sum). The GT statistics (N, V, N1, N2,
# P_unseen, r*) are NOT mergeable themselves — counts-of-counts lose
# identity under addition — which is exactly why the PARTIALS store
# raw bigram counts and the read side re-derives the spectrum from the
# merged counts (the sketch-family lesson: persist the mergeable
# representation, derive the statistic at read time).
# ---------------------------------------------------------------------------
def write_bigram_partial(
    batch: DataFrame,
    batch_id: int,
    path: str,
    group_col: str = "source",
    text_col: str = "text",
) -> None:
    """One micro-batch → (group, bigram, c) partial under batch_id=N."""
    from airbnb_pyspark_jobs_spark.functions.text import tokens

    base = batch.select(
        F.col(group_col).alias("g"), tokens(text_col).alias("__tk")
    )
    pair_len = F.greatest(F.size("__tk") - 1, F.lit(0))
    bg = base.select(
        "g",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("__tk"), 1, pair_len).alias("a"),
                F.slice(F.col("__tk"), 2, pair_len).alias("b"),
            )
        ).alias("__e"),
    ).select(
        "g",
        F.concat_ws(" ", F.lower(F.col("__e.a")), F.lower(F.col("__e.b"))).alias(
            "bg"
        ),
    )
    bg.groupBy("g", "bg").agg(F.count(F.lit(1)).cast("bigint").alias("c")).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, PARTIAL_DIRNAME.format(n=batch_id)))


def compact_bigram_partials(
    spark: SparkSession, path: str, before_batch: int | None = None
) -> int:
    """Fold the bigram-count partials (grouped sum — the additive
    algebra) into the batch_id=-1 base; same manifest protocol and
    ``before_batch`` replay contract as :func:`compact_partials`."""
    return compact_partials(
        spark,
        path,
        key_cols=["g", "bg"],
        fold=lambda c: c.groupBy("g", "bg").agg(
            F.sum("c").cast("bigint").alias("c")
        ),
        before_batch=before_batch,
    )


def read_good_turing(spark: SparkSession, path: str) -> DataFrame:
    """Current Good-Turing novelty per group from the merged bigram
    counts: ``g, n_bigrams, v_bigrams, n1, n2, p_unseen,
    r_star_singleton`` — the q327 statistics over everything ingested
    so far (equality with the batch operator on the same docs is
    asserted in tests/test_streaming_aggregates.py)."""
    from airbnb_pyspark_jobs_spark.functions.numeric import decimal_ratio_round

    merged = (
        spark.read.option("basePath", path)
        .parquet(path)
        .groupBy("g", "bg")
        .agg(F.sum("c").cast("bigint").alias("__c"))
    )
    agg = merged.groupBy("g").agg(
        F.sum("__c").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("v_bigrams"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("__c") == 2, 1).otherwise(0)).cast("bigint").alias("n2"),
    )
    return agg.select(
        "g",
        "n_bigrams",
        "v_bigrams",
        "n1",
        "n2",
        decimal_ratio_round(F.col("n1"), F.col("n_bigrams"), 6).alias("p_unseen"),
        F.when(
            F.col("n1") > 0,
            decimal_ratio_round(2 * F.col("n2"), F.col("n1"), 6),
        ).alias("r_star_singleton"),
    )
