"""Structured Streaming variants of the reference's stateful ingest
(SURVEY.md §2.9).

The reference hand-rolls a micro-batched stream: line-by-line PGN
consumption (T1), keyed running state in ``d_cum_games`` (T2), state
persisted across runs as .json.zst (T3), 1M-game flush (T4). The
idiomatic Spark translations:

- T1 -> ``readStream`` file source over staged text/parquet; each
  arriving file is a micro-batch (Trigger.AvailableNow for backfill).
- T2 -> ``transformWithStateInPandas``/``applyInPandasWithState``
  keyed by (Event, Player) — ``running_features_stateful`` below; the
  batch twin (operators.windows) recomputes the same features with
  window functions and is the preferred path for the static dataset.
- T3 -> the checkpoint/state store (``checkpointLocation``); no
  hand-rolled snapshot files.
- T4 -> ``maxRecordsPerFile`` on the sink + trigger policy.
- T7 (parity-plus, absent in reference) -> ``withWatermark`` +
  tumbling/session windows; demonstrated on the events fixture.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:
    import pandas as pd


def read_events_stream(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """T1: file-source stream; one staged file per micro-batch."""
    return spark.readStream.schema(schema).parquet(path)


def hourly_tumbling(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T7: watermarked tumbling-window aggregation — the streaming twin
    of catalog query events_hourly_tumbling (same expressions after
    readStream; late rows beyond the watermark are dropped)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "n", "value_sum")
    )


def session_agg(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """T7: session windows with watermark (streaming twin of
    events_session_windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def stream_stream_interval_join(
    views: DataFrame,
    clicks: DataFrame,
    watermark: str = "1 hour",
    within: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """T7 extension: watermarked stream-stream join with an
    event-time interval — attribute each click to the same user's view
    at most ``within`` earlier (the ad-attribution / funnel-stitch
    shape). ``how="left_outer"`` additionally emits every UNMATCHED
    view with NULL click columns once the click-side watermark passes
    view_ts + within (state expiry doubles as the emit signal — Spark
    only then knows no matching click can still arrive); that is the
    attribution-LOSS report (views that never converted) as the same
    bounded-state plan, and its batch twin is the identical left join
    on static frames. Both sides carry a watermark and the join
    condition bounds
    click_ts to [view_ts, view_ts + within], so Spark can expire
    buffered state on BOTH sides: a view is dropped once the click
    watermark passes view_ts + within, a click once the view watermark
    passes click_ts — state is O(events inside the watermark horizon),
    not O(stream history). Without the time bound (or the watermarks)
    the join would buffer both streams forever; this function exists
    to pin the bounded-state formulation. Batch twin: the identical
    join expression on static frames (see
    test_stream_stream_interval_join_matches_batch); the analogous
    batch catalog entry is range_join_recent_clicks.
    """
    # ADVICE r7: `within` is caller-supplied — parse it instead of
    # interpolating into F.expr, where a malformed value ('10min') or
    # an injected expression surfaces as an opaque Catalyst error or a
    # silently different join bound.
    import re

    m = re.fullmatch(
        r"\s*(\d+)\s+(second|minute|hour|day)s?\s*", within, re.IGNORECASE
    )
    if not m:
        raise ValueError(
            "within must be '<n> second(s)|minute(s)|hour(s)|day(s)', "
            f"got {within!r}"
        )
    secs = int(m.group(1)) * {
        "second": 1, "minute": 60, "hour": 3600, "day": 86400
    }[m.group(2).lower()]
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer', got {how!r}")
    v = views.select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    c = clicks.select(
        F.col("user_id").alias("__c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    return v.join(
        c,
        (F.col("user_id") == F.col("__c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        # the bound must be the TimeAdd-of-interval-literal shape:
        # StreamingJoinHelper's watermark-constraint extraction does
        # not recognize make_dt_interval arithmetic, and OUTER
        # stream-stream joins are rejected outright without an
        # extractable range. `secs` is a validated integer, so the
        # interpolation is injection-safe (ADVICE r7 intent kept).
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {secs} SECOND")
        ),
        how,
    ).select("user_id", "view_id", "view_ts", "click_id", "click_ts")


RUNNING_STATE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("cum_events", IntegerType()),
        StructField("value_max", StringType()),
    ]
)


def running_features_stateful(events: DataFrame, gap_timeout: str = "30 minutes") -> DataFrame:
    """T2: keyed running count via applyInPandasWithState — the
    incremental twin of the W1/W2 window features (d_cum_games,
    ingester.py:172-218). State per user: (count so far, max so far).

    Batch recompute (operators.windows) is preferred for the static
    corpus; this exists for the continuous-ingest mode where new
    months arrive and reprocessing history is undesirable.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("cum_events", IntegerType()),
        ]
    )
    state_schema = StructType([StructField("n", IntegerType())])

    def fn(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        # GroupState.get is a PROPERTY in pyspark 4 — calling it raises
        # TypeError('tuple' object is not callable) on the first batch
        # where state exists, i.e. the first time a user spans two
        # micro-batches (r10: found via the sessionizer, latent here
        # because the original test fed each key exactly once)
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            idx = range(n + 1, n + len(pdf) + 1)
            n += len(pdf)
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"],
                    "event_id": pdf["event_id"],
                    "cum_events": list(idx),
                }
            )
        state.update((n,))

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_features_tws(events: DataFrame) -> DataFrame:
    """T2 on the state-v2 API: ``transformWithStateInPandas`` keyed
    running (count, max) — the full ``d_cum_games`` analogue (count =
    W1/W2, running max = W3 Elo-max carry-forward; null values leave
    the max unchanged, mirroring the reference's '?'-Elo behavior,
    ingester.py:200-208).

    Differences vs ``applyInPandasWithState`` that matter at scale:
    typed per-key state handles (ValueState) backed by the RocksDB
    state store, independent column families per state variable, and
    state schema evolution — the right substrate when keys are
    millions of players rather than a demo fixture.

    Runtime requirements (checked here, not at import): the state-v2
    protocol serializes over protobuf (``google.protobuf``) and the
    operator only supports the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``). This container
    ships no protobuf, so the test suite exercises this path only when
    the import succeeds; ``running_features_stateful`` (state v1, no
    protobuf dependency) is the always-runnable twin with identical
    count semantics.
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf for its "
            "state protocol; use running_features_stateful instead"
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import DoubleType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("cum_events", IntegerType()),
            StructField("value_max", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", IntegerType()), StructField("vmax", DoubleType())]
    )

    class RunningFeatures(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("running", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import math

            import pandas as pd

            n, vmax = (
                self._state.get() if self._state.exists() else (0, float("nan"))
            )
            for pdf in rows:
                pdf = pdf.sort_values(["ts", "event_id"])
                cum, vmaxes = [], []
                for v in pdf["value"]:
                    n += 1
                    if v is not None and not (isinstance(v, float) and math.isnan(v)):
                        vmax = v if math.isnan(vmax) else max(vmax, v)
                    cum.append(n)
                    vmaxes.append(vmax)
                yield pd.DataFrame(
                    {
                        "user_id": pdf["user_id"],
                        "event_id": pdf["event_id"],
                        "cum_events": cum,
                        "value_max": vmaxes,
                    }
                )
            self._state.update((n, vmax))

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningFeatures(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="none",
    )


# the persisted per-(Event, Player) state, read without inference
FEATURE_STATE_SCHEMA = "Event STRING, Player STRING, n_type INT, elo_max INT, elo_max_faced INT"


def _feature_state_of(games: DataFrame) -> DataFrame:
    """Cumulative per-(Event, Player) feature state from a (state-
    adjusted) canonical batch: the Spark analogue of the reference's
    ``d_cum_games`` dict entries (ingester.py:172-218). Per-player
    totals are derivable (every game has exactly one Event), so one
    grain suffices."""
    return games.groupBy("Event", "Player").agg(
        F.max("Player_cum_games_type").cast("int").alias("n_type"),
        F.max("PlayerElo_max").cast("int").alias("elo_max"),
        F.max("PlayerElo_max_faced").cast("int").alias("elo_max_faced"),
    )


def _latest_state_version(spark: SparkSession, state_path: str, before: int):
    """Highest committed (_SUCCESS-marked) state version strictly below
    ``before`` — strict so a re-run of batch N after a crash never
    reads its own partial vN. Hadoop FS API, so any scheme (file:,
    hdfs:, s3a:) works; no driver-side os.listdir."""
    jvm = spark._jvm  # noqa: SLF001
    path_cls = jvm.org.apache.hadoop.fs.Path
    sp = path_cls(state_path)
    fs = sp.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(sp):
        return None, fs, path_cls
    best = None
    for status in fs.listStatus(sp):
        name = status.getPath().getName()
        if not (name.startswith("v") and name[1:].isdigit()):
            continue
        v = int(name[1:])
        if v >= before or not fs.exists(path_cls(f"{state_path}/{name}/_SUCCESS")):
            continue
        best = v if best is None else max(best, v)
    return best, fs, path_cls


def stream_games_ingest(
    spark: SparkSession,
    pgn_glob: str,
    out_dir: str,
    checkpoint_dir: str,
    include_moves: bool = False,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """End-to-end continuous ingest: arriving PGN chunks -> canonical
    games parquet. The streaming twin of ``plans.ingest.ingest_months``
    (E1) for the mode where month chunks keep arriving and full
    recompute per arrival is undesirable.

    ``readStream.format("binaryFile")`` micro-batches arriving chunk
    files, and each micro-batch is parsed in the JVM by the same
    expressions as the batch parse (``sources.pgn.parse_pgn_files``);
    ``foreachBatch`` applies the SAME batch domain pipeline
    (clean -> unpivot -> features) to each micro-batch and appends to
    the year=/month= partitioned layout. foreachBatch rather than a
    streaming-native plan because the pipeline's unpivot and window
    features aren't append-mode streamable — per micro-batch they run
    as ordinary batch jobs (the Spark-idiomatic escape hatch for
    reusing a batch pipeline on a stream).

    Cross-batch cumulative state (reference parity: ``d_cum_games``
    restored at ingester.py:62-85, persisted at ingester.py:269-278):
    each batch's within-batch running features are OFFSET by a
    persisted per-(Event, Player) state table — counts add, Elo maxes
    floor — then the post-offset batch aggregates become the next
    state version (merged with the prior one by a per-key max: every
    state value only grows). State lives at
    ``{out_dir}/_feature_state/v{N}`` (underscore prefix: invisible to
    parquet readers of the output); versions are batch ids, a reader
    takes the highest committed version STRICTLY below its own id (a
    crashed batch's partial state is never read, and a re-run
    overwrites its own version). Like the reference, continuity
    assumes chunks arrive in event-time order (months in order); a
    late month needs a batch recompute.

    ``max_files_per_trigger`` is the file source's
    ``maxFilesPerTrigger``: at most that many new chunk files per
    micro-batch, in both trigger modes (AvailableNow splits a backlog
    into several batches). The file source orders new files by
    modification time, so chunks must land with fresh ones, as
    ``sources.staging`` writes them: after the first batch, a new file
    more than the source's ``maxFileAge`` (7 days) older than the
    newest file seen is skipped.

    Exactly-once: the file source's log in the checkpoint records the
    chunk files each batch consumed, so a restart neither re-ingests
    nor skips chunks (T3 via the checkpoint, not hand-rolled .json.zst
    snapshots). Checkpoints written by the former Python ``pgn``
    stream source cannot be resumed: start such an ingest on a fresh
    checkpoint. The output append itself is at-least-once on a
    mid-write crash — same contract as the reference's file writes.
    """
    from ..io import write_parquet
    from ..plans.games import games_pipeline
    from ..sources.pgn import BINARY_FILE_SCHEMA, parse_pgn_files

    reader = spark.readStream.format("binaryFile").schema(BINARY_FILE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.load(pgn_glob)
    state_path = f"{out_dir}/_feature_state"

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        prev, fs, path_cls = _latest_state_version(spark, state_path, batch_id)
        st = (
            spark.read.schema(FEATURE_STATE_SCHEMA).parquet(f"{state_path}/v{prev}")
            if prev is not None
            else None
        )
        raw = parse_pgn_files(batch_df).drop("game_id")
        games = games_pipeline(raw, include_moves, state=st)
        # the output write AND the state aggregation both consume the
        # full feature pipeline; persist so it executes once per batch
        games = games.persist()
        try:
            write_parquet(
                games.withColumn("year", F.year("DateTime")).withColumn(
                    "month", F.month("DateTime")
                ),
                out_dir,
                partition_by=["year", "month"],
                mode="append",
            )
            batch_state = _feature_state_of(games)
            if st is not None:
                batch_state = (
                    batch_state.unionByName(st)
                    .groupBy("Event", "Player")
                    .agg(*(F.max(c).alias(c) for c in ("n_type", "elo_max", "elo_max_faced")))
                )
            batch_state.write.mode("overwrite").parquet(f"{state_path}/v{batch_id}")
        finally:
            games.unpersist()
        # prune: keep the version just read (crash recovery) + the new one
        if prev is not None:
            for status in fs.listStatus(path_cls(state_path)):
                name = status.getPath().getName()
                if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < prev:
                    fs.delete(status.getPath(), True)

    writer = (
        files.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_agg_maintenance(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    cols,
    partial_fn,
    available_now: bool = True,
):
    """Streaming materialized-view maintenance: keep a mergeable
    aggregate state table fresh as batches arrive, without ever
    rescanning history — the continuous twin of the batch operator
    ``operators.incremental.merge_agg_state`` (and of the catalog
    entry ``incremental_agg_orders``, whose oracle proves the merge
    algebra exact).

    Per micro-batch: ``partial_fn(batch_df)`` computes the batch's
    partial aggregate (schema ``keys + [c.name for c in cols]``),
    which is merged into the previous committed state via one
    union + groupBy(keys) — per-batch cost scales with the DELTA plus
    the state (|groups| rows), never the history. State versions live
    at ``{state_dir}/v{batch_id}`` with the same crash contract as
    ``stream_games_ingest``'s feature state: a reader takes the
    highest _SUCCESS-committed version STRICTLY below its own batch
    id, a re-run of a crashed batch overwrites its own partial
    version (idempotent replay — merging is NOT repeated against the
    crashed write), and versions older than the one just read are
    pruned.

    The aggregate served to readers is always a plain parquet table
    (latest committed ``v{N}``): ratios (averages etc.) are derived
    at read time from the mergeable (sum, count) columns, exactly as
    the batch entry documents.
    """
    from ..operators.incremental import merge_agg_state

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        partial = partial_fn(batch_df)
        prev, fs, path_cls = _latest_state_version(spark, state_dir, batch_id)
        if prev is not None:
            st = spark.read.parquet(f"{state_dir}/v{prev}")
            merged = merge_agg_state(st, partial, keys, cols)
        else:
            merged = partial
        merged.write.mode("overwrite").parquet(f"{state_dir}/v{batch_id}")
        if prev is not None:
            for status in fs.listStatus(path_cls(state_dir)):
                name = status.getPath().getName()
                if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < prev:
                    fs.delete(status.getPath(), True)

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def latest_agg_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the latest committed state version (the serveable MV)."""
    prev, _, _ = _latest_state_version(spark, state_dir, 1 << 62)
    if prev is None:
        raise FileNotFoundError(f"no committed state under {state_dir}")
    return spark.read.parquet(f"{state_dir}/v{prev}")


def stream_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: emit the first arrival of each key,
    drop later duplicates that arrive within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes it — BOUNDED state, unlike a plain
    ``dropDuplicates`` whose state grows with the whole history (a
    guaranteed OOM on an unbounded stream). The contract this buys at
    100 TB/day: duplicates separated by more than the watermark are
    NOT caught here — cross-horizon dedup belongs to the batch layer
    (dedup_exact_groups / minhash), and the two compose: stream-dedup
    deduplicates the firehose cheaply, batch-dedup sweeps the archive.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_embeddings_curation(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType | None = None,
    threshold: float = 0.4,
    dim: int = 64,
    n_tables: int = 8,
    n_planes: int | None = None,
    target_corpus: int | None = None,
    compact_every: int | None = None,
):
    """Streaming vector curation: micro-batches of embeddings flow
    through exact dedup and incremental LSH near-dup (with EXACT
    cosine verification) into an append-only vector corpus — the
    embedding twin of :func:`stream_documents_curation`.

    Tiers per batch:

    - **exact**: digest = md5 of the vector rendered as text (Spark-
      internal key, never crosses engines); intra-batch keep-min-id,
      then anti-join the persisted digest state.
    - **near-dup**: candidates from ``incremental_embedding_near_dup``
      (frozen plane config, sized by ``target_corpus``), then exact
      quantized-int cosine VERIFICATION of every candidate — a vector
      drops only when a verified pair (cosine >= threshold) links it
      to an earlier-arrived kept vector or a smaller-id batch member.

    **Postings archive kept vectors only** — the OPPOSITE policy from
    the text tier's ghost drops, forced by verification: a candidate
    can only be cosine-verified if its partner's vector is readable,
    and dropped vectors are never written. Consequence (documented
    trade): a chain A≈B≈C where B dropped for A can admit C if C is
    not a verified neighbor of A — near-dup chains re-enter one hop at
    a time, but every drop is exact-verified, never ghost-candidacy.

    Same exactly-once discipline as the text sink: every write
    (corpus, digest state, postings) is a batch_id-scoped overwrite;
    state reads exclude the current batch's partial output; optional
    ``compact_every`` compacts the posting archive in place.
    """
    from ..operators.dedup import (
        embedding_pairs_cosine,
        incremental_embedding_near_dup,
    )
    from ..io import path_exists

    if schema is None:
        schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    state_path = os.path.join(out_dir, "_digest_state")
    postings_path = os.path.join(out_dir, "_lsh_postings")
    vecs_path = os.path.join(out_dir, "vecs")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        seen = None
        if path_exists(sess, state_path):
            seen = sess.read.parquet(state_path)
            if "batch" in seen.columns:
                seen = seen.where(F.col("batch") != F.lit(batch_id))
        staged = curation_batch_plan(
            batch_df,
            seen,
            digest=F.md5(F.col("embedding").cast("array<string>").cast("string")),
            order_col="vec_id",
        ).persist()
        pairs = batch_post = None
        try:
            # return_postings: the batch's bucket signatures come back
            # still cached, so the kept-only archive write below reuses
            # them instead of re-running the plane kernel over kept rows
            pairs, batch_post = incremental_embedding_near_dup(
                staged.select(*batch_df.columns),
                postings_path,
                dim=dim,
                n_tables=n_tables,
                n_planes=n_planes,
                target_corpus=target_corpus,
                batch_id=batch_id,
                write_postings=False,
                return_postings=True,
            )
            # vectors for verification: this batch + the written corpus
            have = staged.select("vec_id", "embedding")
            if path_exists(sess, vecs_path):
                corpus = sess.read.parquet(vecs_path)
                if "batch" in corpus.columns:
                    corpus = corpus.where(F.col("batch") != F.lit(batch_id))
                have = have.unionByName(corpus.select("vec_id", "embedding"))
            verified = embedding_pairs_cosine(
                pairs, have, threshold=threshold
            ).persist()
            try:
                ids = staged.select(F.col("vec_id").alias("__bid"))
                both_in = verified.join(
                    ids, verified["vec_a"] == ids["__bid"], "left_semi"
                ).join(ids, F.col("vec_b") == ids["__bid"], "left_semi")
                drop_intra = both_in.select(F.col("vec_b").alias("__drop"))
                a_only = (
                    verified.join(ids, verified["vec_a"] == ids["__bid"], "left_semi")
                    .join(ids, F.col("vec_b") == ids["__bid"], "left_anti")
                    .select(F.col("vec_a").alias("__drop"))
                )
                b_only = (
                    verified.join(ids, verified["vec_b"] == ids["__bid"], "left_semi")
                    .join(ids, F.col("vec_a") == ids["__bid"], "left_anti")
                    .select(F.col("vec_b").alias("__drop"))
                )
                drops = drop_intra.union(a_only).union(b_only).distinct()
                kept = staged.join(
                    drops, staged["vec_id"] == drops["__drop"], "left_anti"
                ).select(*batch_df.columns).persist()
                try:
                    kept.write.mode("overwrite").parquet(
                        os.path.join(vecs_path, f"batch={batch_id}")
                    )
                    # kept-only postings, cut from the batch's cached
                    # signatures (no second plane-kernel pass)
                    batch_post.join(
                        kept.select("vec_id"), "vec_id", "left_semi"
                    ).write.mode("overwrite").parquet(
                        os.path.join(postings_path, f"batch={batch_id}")
                    )
                    staged.select("__digest").write.mode("overwrite").parquet(
                        os.path.join(state_path, f"batch={batch_id}")
                    )
                    if compact_every and (batch_id + 1) % compact_every == 0:
                        from ..operators.dedup import compact_postings

                        compact_postings(
                            sess,
                            postings_path,
                            id_col="vec_id",
                            key_cols=("table", "bucket"),
                        )
                finally:
                    kept.unpersist()
            finally:
                verified.unpersist()
        finally:
            if pairs is not None:
                pairs.unpersist()
            if batch_post is not None:
                batch_post.unpersist()
            staged.unpersist()

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def curation_batch_plan(
    batch_df: DataFrame,
    seen: DataFrame | None = None,
    digest=None,
    order_col: str = "doc_id",
    bloom_prefilter: tuple | None = None,
    seen_delta: DataFrame | None = None,
) -> DataFrame:
    """One micro-batch's exact-dedup tier as a plan-fingerprintable
    DataFrame (tests/test_scale_design.py): digest, keep min id per
    digest within the batch, anti-join the cross-batch digest state.
    The shuffle budget per micro-batch is the streaming scale-killer
    surface — this plan must cost exactly two exchanges (the digest
    window; the state side of the anti-join, whose batch side REUSES
    the window's hashpartitioning on __digest), and the downstream
    quality gate zero. ``digest``/``order_col`` generalize the tier to
    non-text batches (the embedding sink digests the vector
    rendering).

    ``bloom_prefilter=(m, k)`` (build now) or ``(bitmap, m, k)``
    (prebuilt — the steady-state streaming shape) enables the Bloom
    pushdown the module
    docstring promises: a bitmap built from the state digests
    (operators/dedup.py bloom_build — O(m) state, one distinct-
    positions aggregate) rides the batch plan as a literal, and rows
    whose probe MISSES are PROVEN novel (Bloom filters never lie
    negative) so only the bloom-HIT subset pays the exact anti-join
    shuffle. When most arriving content is novel (the steady-state
    firehose), the anti-join's batch side shrinks to the rare
    dup-suspect rows; results are identical by the no-false-negative
    property (tested).

    STALENESS CONTRACT (review r8s4): the digest state is append-only
    per micro-batch, so a bitmap built at compaction time necessarily
    misses digests appended since — and a bloom MISS is only proof of
    absence from the bitmap's SNAPSHOT, not from the live state. A
    lagging bitmap is therefore correct ONLY together with
    ``seen_delta`` = the digests appended since the bitmap build:
    bloom-miss rows additionally anti-join the (small, broadcastable)
    delta, bloom-hit rows anti-join the full state as before. Without
    ``seen_delta`` the bitmap must cover EVERY current state digest
    (i.e. be rebuilt whenever the state grows). The lag trap and the
    delta repair are both pinned in
    tests/test_streaming.py::test_curation_batch_bloom_prefilter_identical.
    """
    from pyspark.sql import Window

    from ..operators.dedup import bloom_build, bloom_hit_expr

    if digest is None:
        digest = F.md5(F.lower(F.trim(F.col("text"))))
    batch = batch_df.withColumn("__digest", digest)
    w = Window.partitionBy("__digest").orderBy(order_col)
    batch = (
        batch.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    if seen is not None:
        if bloom_prefilter is not None:
            # (m, k) builds a bitmap LITERAL from the state NOW (one
            # distinct-positions aggregate — fine for one-shot plans
            # and small m); (bitmap_bytes, m, k) with PREBUILT bytes
            # is the steady-state streaming shape: bloom_bitmap_bytes
            # once per state-compaction cycle, then a BROADCAST +
            # Arrow probe per micro-batch — a literal bitmap costs
            # O(m) per plan (a 4 MB literal measured ~10 s of driver/
            # task-ship overhead per batch), the broadcast ships once
            # per executor (a stale bitmap is correct as long as it
            # contains every state digest — see the cadence note)
            if len(bloom_prefilter) == 3:
                from ..operators.dedup import bloom_hit_udf

                bitmap_bytes, m, k = bloom_prefilter
                probe = bloom_hit_udf(
                    batch_df.sparkSession, bitmap_bytes, m, k
                )
                raw_hit = probe(F.col("__digest"))
            else:
                m, k = bloom_prefilter
                bitmap = bloom_build(seen.select("__digest"), "__digest", m, k)
                raw_hit = bloom_hit_expr(F.col("__digest"), bitmap, m, k)
            # a NULL digest (null/absent text) must count as a MISS:
            # the plain anti-join keeps such rows (NULL never equals a
            # state digest), so the prefilter must route them down the
            # proven-novel branch, not drop them from both
            hit = F.coalesce(raw_hit, F.lit(False))
            suspects = batch.where(hit).join(
                seen.select("__digest"), "__digest", "left_anti"
            )
            misses = batch.where(~hit)
            if seen_delta is not None:
                # a miss only proves absence from the bitmap's
                # SNAPSHOT; digests appended since the build must be
                # checked exactly (tiny side -> broadcast anti-join)
                misses = misses.join(
                    F.broadcast(seen_delta.select("__digest")),
                    "__digest",
                    "left_anti",
                )
            batch = misses.unionByName(suspects)
        else:
            batch = batch.join(seen.select("__digest"), "__digest", "left_anti")
    return batch


def stream_documents_curation(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType | None = None,
    near_dup: bool = False,
    compact_every: int | None = None,
    partition_state: bool = False,
    state_compact_every: int | None = None,
):
    """Streaming curation ingest: micro-batches of documents flow
    through cross-batch exact dedup and the quality gate into an
    append-only parquet corpus.

    The composed end-to-end shape a training-data firehose needs
    (reference parity: ingester.py's incremental month loop, but for
    documents):

    - **cross-batch dedup via a digest state table**, not streaming
      dropDuplicates: documents carry no event time, so watermark-
      bounded state cannot apply, and unbounded in-memory state is an
      OOM at 100 TB/day. Instead each batch anti-joins the persisted
      digest table (first arrival wins) — at scale that table is a
      compact (digest)-only parquet, the join shuffles digests not
      documents, and a bloom-filter pushdown is the natural upgrade.
    - **intra-batch dedup** keeps the min doc_id per digest (a batch
      can contain its own duplicates).
    - **quality gate**: the same quality_verdict column the batch
      catalog entry uses — bit-identical rules in both paths.
    - digests of ALL batch docs (kept or dropped) append to the state
      table, so later duplicates of a quality-dropped doc skip the
      gate too.
    - **optional near-dup tier** (``near_dup=True``): after exact
      dedup, the batch runs incremental MinHash-LSH against the
      persisted posting archive (operators/dedup.incremental_near_dup
      — archive signatures never recomputed). Drop rule, greedy by
      arrival then id: a doc drops if it is an LSH candidate of ANY
      earlier-arrived doc (archive side), or of a smaller-id doc in
      its own batch. Postings are archived for every exact-dedup
      survivor — including docs the near-dup or quality gate then
      drops — so an arriving doc can be dropped as a candidate of a
      previously SEEN doc that never reached the corpus (a transitive
      "ghost" drop). That is the deliberate conservative policy: the
      drop horizon is everything seen, not everything written; the
      alternative (archive postings only for written docs) lets
      near-dup chains re-enter the corpus one hop at a time. Within
      one batch the rule is keep-if-no-smaller-neighbor — it can keep
      two non-neighboring members of one candidate component (they are
      not near-dups of each other), unlike the batch
      connected-components keep-one (dedup_keep_representatives);
      both are valid policies, this one needs no iteration.

    Exactly-once: the checkpoint tracks source offsets, and every
    per-batch write (corpus, digest state, LSH postings) is scoped to
    a ``batch=<id>`` subdirectory written with OVERWRITE semantics —
    the standard foreachBatch idempotency recipe. A crash anywhere in
    the batch replays it against the previous batches' state (the
    current batch's own partial output is excluded from the state
    reads and then overwritten), so replay rewrites identical content
    instead of appending duplicates (ADVICE r4: with plain appends, a
    crash between the corpus and digest writes duplicated the batch's
    corpus rows on replay).

    ``compact_every=N`` (with ``near_dup``): every N batches the LSH
    posting archive is compacted in-place (operators/dedup.
    compact_postings — small-file merge; the stream keeps every seen
    doc's postings per the ghost-drop policy, so no live-id filter).
    A crash between the compaction and the checkpoint commit replays
    the batch against the already-compacted archive; the batch's
    re-written postings briefly duplicate rows inside ``batch=-1``,
    which the candidate join's distinct absorbs and the next
    compaction's dropDuplicates reclaims — idempotency holds.

    ``partition_state=True`` lays the digest state out as
    ``batch=<id>/p=<2-hex-prefix>/`` hive partitions (256 buckets of
    md5's first byte). Each batch then reads only the state partitions
    whose prefixes actually occur in the batch: the batch's distinct
    prefix set (bounded at 256 values by construction — a tiny,
    size-capped collect, not a data-dependent one) becomes a literal
    IN filter that prunes the state scan at file-listing time. This is
    the trickle-batch regime's win: a 1000-row batch touches ≲256 of
    the state's partitions no matter how many billions of digests the
    corpus has accumulated, so the anti-join's state side scales with
    the BATCH's prefix coverage, not the corpus. Full-size batches
    cover all 256 prefixes and read everything — same cost as the flat
    layout, which is why the flat layout stays the default. The two
    layouts are mutually exclusive per state dir (mixing them would
    silently un-prune; a layout guard raises instead).

    ``state_compact_every=N`` compacts the digest state every N
    batches via :func:`compact_digest_state` — the state otherwise
    grows one ``batch=<id>`` file set per micro-batch forever, and at
    trickle cadence the per-batch anti-join cost becomes file-listing
    (N file sets), not digest volume (the same unbounded-growth axis
    `compact_postings` closes for the near-dup archive, measured in
    BENCH_ARCHIVE.json). Every batch self-heals an interrupted state
    compaction before its state probe, so the swap's crash window can
    never read as an empty first-batch state.

    Cadence guidance (r7 BENCH_ARCHIVE finding): pick N by where the
    state LIVES. On an object store, compact eagerly (small N) — every
    probe pays per-directory listing RPCs, and the file/dir-count
    bound is what holds probe cost flat. On a LOCAL filesystem,
    Spark's FileStatusCache makes appended batch dirs nearly free to
    re-list while every compaction rewrite invalidates the cache and
    the next probes re-list the tree (measured: probes reset to ~0.8s
    post-compaction then grow ~0.12s/batch, vs flat ~1.2s append-only
    at 22x the file count) — so compact on the READER's cadence
    (before unpruned scans / downstream consumers), not per-N-batches:
    that hook is :func:`compact_before_read`, which downstream
    consumers call right before an unpruned state scan (it no-ops
    until ``min_batch_dirs`` batch dirs have accumulated, and takes
    the same ``exclude_batch`` guard if a stream is in flight).
    """
    from pyspark.sql import Window

    from ..operators.curation import curation_projection, quality_verdict

    if schema is None:
        schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    state_path = os.path.join(out_dir, "_digest_state")
    postings_path = os.path.join(out_dir, "_lsh_postings")
    docs_path = os.path.join(out_dir, "docs")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from ..io import path_exists
        from ..operators.dedup import _restore_interrupted_swap

        sess = batch_df.sparkSession
        # Self-heal an interrupted state compaction before probing:
        # the swap's one crash window leaves the state path empty with
        # __old intact, which would otherwise read as "first batch"
        # and silently disable cross-batch dedup (same contract as
        # every incremental posting reader).
        _restore_interrupted_swap(sess, state_path)
        # Explicit existence probe (ADVICE r4): only a MISSING state
        # table means "first batch" — a real read error fails the batch
        # so the checkpoint retries it, instead of silently disabling
        # cross-batch dedup for this batch.
        seen = None
        if path_exists(sess, state_path):
            seen = sess.read.parquet(state_path)
            if partition_state and "p" not in seen.columns:
                raise ValueError(
                    f"digest state at {state_path} has a flat layout; "
                    "it cannot be read with partition_state=True "
                    "(pruning filters on the absent 'p' partition would "
                    "silently match nothing)"
                )
            if not partition_state and "p" in seen.columns:
                raise ValueError(
                    f"digest state at {state_path} is prefix-partitioned; "
                    "read it with partition_state=True"
                )
            if "batch" in seen.columns:  # exclude own partial replay output
                seen = seen.where(F.col("batch") != F.lit(batch_id))
            if partition_state:
                # The batch's prefix set is capped at 256 values by
                # construction (first md5 byte), so this collect is a
                # bounded-size pruning step, not a data-size-dependent
                # driver loop.  Literal IN => partition pruning at
                # file-listing time on the state scan.
                prefixes = [
                    r[0]
                    for r in batch_df.select(
                        F.substring(F.md5(F.lower(F.trim(F.col("text")))), 1, 2)
                        .alias("p")
                    )
                    .distinct()
                    .collect()
                ]
                seen = seen.where(F.col("p").isin(prefixes))
        batch = curation_batch_plan(batch_df, seen)
        staged = batch.persist()  # exact-dedup survivors: digest scope
        batch = staged
        pairs = None
        try:
            if near_dup:
                from ..operators.dedup import incremental_near_dup

                pairs = incremental_near_dup(
                    staged.select(*batch_df.columns),
                    postings_path,
                    batch_id=batch_id,
                )
                ids = staged.select(F.col("doc_id").alias("__bid"))
                # pair member(s) in this batch; archive members are not
                both_in = pairs.join(
                    ids, pairs["doc_a"] == ids["__bid"], "left_semi"
                ).join(ids, F.col("doc_b") == ids["__bid"], "left_semi")
                # both in batch -> greater id drops
                drop_intra = both_in.select(F.col("doc_b").alias("__drop"))
                # exactly one in batch -> that one drops (its partner
                # arrived earlier and is already written)
                a_only = (
                    pairs.join(ids, pairs["doc_a"] == ids["__bid"], "left_semi")
                    .join(ids, F.col("doc_b") == ids["__bid"], "left_anti")
                    .select(F.col("doc_a").alias("__drop"))
                )
                b_only = (
                    pairs.join(ids, pairs["doc_b"] == ids["__bid"], "left_semi")
                    .join(ids, F.col("doc_a") == ids["__bid"], "left_anti")
                    .select(F.col("doc_b").alias("__drop"))
                )
                drops = drop_intra.union(a_only).union(b_only).distinct()
                batch = staged.join(
                    drops, staged["doc_id"] == drops["__drop"], "left_anti"
                )
            kept = (
                curation_projection(batch)
                .where(quality_verdict() == "keep")
                .select(*batch_df.columns)
            )
            # batch-scoped overwrite => replay rewrites, never appends
            kept.write.mode("overwrite").parquet(
                os.path.join(docs_path, f"batch={batch_id}")
            )
            # digests of ALL exact-dedup survivors — including near-dup
            # drops — so later exact copies of a dropped doc skip too
            if partition_state:
                staged.select(
                    "__digest", F.substring("__digest", 1, 2).alias("p")
                ).write.partitionBy("p").mode("overwrite").parquet(
                    os.path.join(state_path, f"batch={batch_id}")
                )
            else:
                staged.select("__digest").write.mode("overwrite").parquet(
                    os.path.join(state_path, f"batch={batch_id}")
                )
            if near_dup and compact_every and (batch_id + 1) % compact_every == 0:
                from ..operators.dedup import compact_postings

                compact_postings(sess, postings_path)
            if state_compact_every and (batch_id + 1) % state_compact_every == 0:
                # exclude_batch: the in-flight batch's digests must NOT
                # fold into batch=-1 — a crash between this compaction
                # and the checkpoint commit replays the batch, and the
                # replay's `batch != batch_id` state exclusion can only
                # filter digests that still live under batch=<id>
                # (ADVICE r6 high: self-visible digests would anti-join
                # the whole replayed batch away and overwrite
                # docs/batch=<id> EMPTY).
                compact_digest_state(sess, state_path, exclude_batch=batch_id)
        finally:
            # pairs comes back persisted from incremental_near_dup; a
            # long-running stream must release each batch's cache or
            # storage memory accumulates across micro-batches
            if pairs is not None:
                pairs.unpersist()
            staged.unpersist()

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_digest_state(
    spark: SparkSession,
    state_path: str,
    rows_per_file: int = 8_000_000,
    exclude_batch: int | None = None,
) -> dict:
    """Compact the streaming curation digest state (the `_digest_state`
    sibling of ``compact_postings``): the state grows one ``batch=<id>``
    directory per micro-batch FOREVER — after N trickle batches the
    anti-join's state scan lists N file sets, and the small-file count
    (not the digest row count) becomes the per-batch cost driver.
    Rewrites the state as ``batch=-1`` with right-sized files:

    - digests ``dropDuplicates``'d (replay corners may hold a digest in
      both ``batch=-1`` and a replayed batch dir — first-arrival
      semantics only need set membership, so the dedup is lossless);
    - the flat vs ``p=``-prefix layout is PRESERVED (a prefix-
      partitioned state keeps its file-listing pruning; compacted rows
      land as ``batch=-1/p=<xx>/`` — one task's files per prefix);
    - crash-safe write-then-swap shared with the posting archives
      (``_swap_compacted``): the live state is never deleted first,
      and the one crash window (between the two renames) is healed by
      ``_restore_interrupted_swap``, which every curation micro-batch
      now calls before its state probe — an interrupted compaction can
      never be mistaken for an empty first-batch state;
    - ``exclude_batch`` (the streaming caller passes its in-flight
      ``batch_id``) keeps that batch's digests OUT of ``batch=-1``:
      they are carried through the swap under their own
      ``batch=<id>`` directory, byte-rewritten into the compacted
      tree (the live dir is never moved, so the pre-swap state stays
      whole).  This is load-bearing for crash replay (ADVICE r6
      high): if the stream dies between compaction and checkpoint
      commit, the replayed micro-batch excludes its own prior output
      with ``batch != batch_id`` — digests folded into ``batch=-1``
      would become self-visible and anti-join the entire replayed
      batch away, silently emptying ``docs/batch=<id>``.

    Returns {"rows": n, "files": k} for the compacted ``batch=-1``
    state (k counts the data files actually written — in the
    partitioned layout that is ~one per touched prefix, not
    ``ceil(rows/rows_per_file)``).
    """
    import math

    from ..io import path_exists
    from ..operators.dedup import _restore_interrupted_swap, _swap_compacted

    _restore_interrupted_swap(spark, state_path)
    if not path_exists(spark, state_path):
        return {"rows": 0, "files": 0}
    raw = spark.read.parquet(state_path)
    partitioned = "p" in raw.columns
    cols = ["__digest", "p"] if partitioned else ["__digest"]
    live_batch_dir = None
    if exclude_batch is not None and "batch" in raw.columns:
        candidate = f"{state_path.rstrip('/')}/batch={exclude_batch}"
        if path_exists(spark, candidate):
            live_batch_dir = candidate
            raw = raw.where(F.col("batch") != F.lit(exclude_batch))
    state = raw.select(*cols).dropDuplicates()
    n = state.count()
    files = max(1, math.ceil(n / rows_per_file))
    tmp_path = state_path.rstrip("/") + "__compact"
    jvm = spark._jvm  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(state_path).getFileSystem(
        spark._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    fs.delete(hpath(tmp_path), True)  # stale partial from a crashed compaction
    target = f"{tmp_path}/batch=-1"
    if partitioned:
        # hash rows to their prefix so each p= partition is written by
        # one task -> ~one file per prefix, not (tasks x prefixes)
        state.repartition("p").write.partitionBy("p").mode("overwrite").parquet(
            target
        )
    else:
        state.repartition(files).write.mode("overwrite").parquet(target)
    if live_batch_dir is not None:
        # copy-rewrite (never move) the excluded batch into the
        # compacted tree; the live state stays intact until the swap
        keep = spark.read.parquet(live_batch_dir)
        keep_target = f"{tmp_path}/batch={exclude_batch}"
        if partitioned:
            keep.repartition("p").write.partitionBy("p").mode(
                "overwrite"
            ).parquet(keep_target)
        else:
            keep.coalesce(1).write.mode("overwrite").parquet(keep_target)
    # report the data files ACTUALLY written for batch=-1 (ADVICE r6:
    # the partitioned write produces ~one file per prefix, so the
    # ceil(rows/rows_per_file) estimate does not describe it)
    written = 0
    it = fs.listFiles(hpath(target), True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            written += 1
    _swap_compacted(spark, state_path)
    return {"rows": n, "files": written}


def compact_before_read(
    spark: SparkSession,
    state_path: str,
    min_batch_dirs: int = 8,
    rows_per_file: int = 8_000_000,
    exclude_batch: int | None = None,
) -> dict:
    """READER-cadence digest-state compaction (VERDICT r7 #7, from the
    r7 BENCH_ARCHIVE finding): on a LOCAL filesystem, per-N-batch
    compaction is counterproductive — Spark's FileStatusCache makes
    appended ``batch=<id>`` dirs nearly free to re-list, while every
    compaction rewrite invalidates the cache and the next probes
    re-list the whole tree. The right local cadence is the READER's:
    compact immediately before an unpruned scan by a downstream
    consumer, when the listing cost is actually about to be paid.
    (On an OBJECT STORE, per-N via ``state_compact_every`` stays right:
    there is no cached-listing subsidy and every probe pays
    per-directory listing RPCs, so the file-count bound is the lever.)

    Call this before consuming the state wholesale. It compacts only
    when at least ``min_batch_dirs`` un-compacted ``batch=<id>`` dirs
    have accumulated (below that, the rewrite + cache invalidation
    costs more than the listing it saves) and returns
    ``{"compacted": bool, "batch_dirs": n, ...compaction stats}``.

    Concurrency contract: run it while the stream is quiescent
    (between availableNow runs, or from the maintenance slot of the
    ingest loop), or pass the writer's in-flight batch id as
    ``exclude_batch`` — folding an in-flight batch's digests into
    ``batch=-1`` would make them self-visible to that batch's crash
    replay (the ADVICE-r6 data-loss mode compact_digest_state guards
    against).
    """
    from ..io import path_exists
    from ..operators.dedup import _restore_interrupted_swap

    # heal a crashed compaction's swap window FIRST: without this a
    # reader arriving in that window would see a missing state dir,
    # return a no-op, and then read an empty state.
    _restore_interrupted_swap(spark, state_path)
    if not path_exists(spark, state_path):
        return {"compacted": False, "batch_dirs": 0}
    jvm = spark._jvm  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(state_path).getFileSystem(
        spark._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    batch_dirs = 0
    for st in fs.listStatus(hpath(state_path)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch=") and name != "batch=-1":
            batch_dirs += 1
    if batch_dirs < min_batch_dirs:
        return {"compacted": False, "batch_dirs": batch_dirs}
    stats = compact_digest_state(
        spark, state_path, rows_per_file=rows_per_file, exclude_batch=exclude_batch
    )
    return {"compacted": True, "batch_dirs": batch_dirs, **stats}


def stream_images_curation(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType | None = None,
    max_hamming: int = 3,
    bands: int = 4,
    compact_every: int | None = None,
):
    """Streaming IMAGE curation: micro-batches of (doc_id, data) blobs
    flow through exact dedup and incremental perceptual-hash near-dup
    into an append-only media corpus — the image member of the
    streaming-curation family, completing the modality symmetry
    (text: :func:`stream_documents_curation`; vectors:
    :func:`stream_embeddings_curation`; images: this).

    Tiers per batch:

    - **exact**: digest = md5 of the raw bytes; intra-batch
      keep-min-id, then anti-join the persisted digest state (a
      re-uploaded byte-identical image never reaches hashing).
    - **near-dup**: aHash signatures of the exact-survivors
      (:func:`~..multimodal.media.ahash_images` — only NEW blobs are
      ever hashed), candidates + Hamming verification from
      ``incremental_phash_near_dup`` against the posting/signature
      archives; a doc drops when a verified pair links it to an
      earlier-arrived KEPT image or a smaller-id batch member.

    **Archives hold kept images only** — the embeddings-sink policy,
    and for the same reason: the signature side table exists to
    verify future candidates, and dropped images are never written,
    so their signatures must not linger as phantom partners. The
    documented trade also carries over: in a chain A~B~C where B
    dropped for A, C re-enters unless it verifies against A directly
    (clique-shaped duplicate families — the common re-upload case —
    are unaffected).

    Exactly-once: every write (media corpus, digest state, postings,
    signatures) is a batch_id-scoped overwrite; state reads exclude
    the current batch's own directories, so a checkpoint-replayed
    batch rewrites identical outputs. ``compact_every`` compacts the
    posting archive on the same cadence contract as the other sinks.
    """
    from ..io import path_exists
    from ..multimodal.media import ahash_images
    from ..operators.dedup import incremental_phash_near_dup

    if schema is None:
        schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    state_path = os.path.join(out_dir, "_digest_state")
    postings_path = os.path.join(out_dir, "_phash_postings")
    sigs_path = os.path.join(out_dir, "_phash_sigs")
    imgs_path = os.path.join(out_dir, "imgs")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        seen = None
        if path_exists(sess, state_path):
            seen = sess.read.parquet(state_path)
            if "batch" in seen.columns:
                seen = seen.where(F.col("batch") != F.lit(batch_id))
        staged = curation_batch_plan(
            batch_df,
            seen,
            digest=F.md5(F.col("data")),
            order_col="doc_id",
        ).persist()
        verified = batch_post = None
        try:
            sigs = ahash_images(staged.select("doc_id", "data"), use_real=False)
            verified, batch_post, sig_rows = incremental_phash_near_dup(
                sigs,
                postings_path,
                sigs_path,
                max_hamming=max_hamming,
                bands=bands,
                batch_id=batch_id,
                write_archives=False,
                return_archives=True,
            )
            verified = verified.persist()
            ids = staged.select(F.col("doc_id").alias("__bid"))
            both_in = verified.join(
                ids, verified["doc_a"] == ids["__bid"], "left_semi"
            ).join(ids, F.col("doc_b") == ids["__bid"], "left_semi")
            drop_intra = both_in.select(F.col("doc_b").alias("__drop"))
            a_only = (
                verified.join(ids, verified["doc_a"] == ids["__bid"], "left_semi")
                .join(ids, F.col("doc_b") == ids["__bid"], "left_anti")
                .select(F.col("doc_a").alias("__drop"))
            )
            b_only = (
                verified.join(ids, verified["doc_b"] == ids["__bid"], "left_semi")
                .join(ids, F.col("doc_a") == ids["__bid"], "left_anti")
                .select(F.col("doc_b").alias("__drop"))
            )
            drops = drop_intra.union(a_only).union(b_only).distinct()
            kept = staged.join(
                drops, staged["doc_id"] == drops["__drop"], "left_anti"
            ).select(*batch_df.columns).persist()
            try:
                kept.write.mode("overwrite").parquet(
                    os.path.join(imgs_path, f"batch={batch_id}")
                )
                kept_ids = kept.select("doc_id")
                batch_post.join(kept_ids, "doc_id", "left_semi").write.mode(
                    "overwrite"
                ).parquet(os.path.join(postings_path, f"batch={batch_id}"))
                sig_rows.join(kept_ids, "doc_id", "left_semi").write.mode(
                    "overwrite"
                ).parquet(os.path.join(sigs_path, f"batch={batch_id}"))
                staged.select("__digest").write.mode("overwrite").parquet(
                    os.path.join(state_path, f"batch={batch_id}")
                )
                if compact_every and (batch_id + 1) % compact_every == 0:
                    from ..operators.dedup import compact_postings

                    compact_postings(
                        sess,
                        postings_path,
                        id_col="doc_id",
                        key_cols=("band_idx", "band_hash"),
                    )
            finally:
                kept.unpersist()
        finally:
            if verified is not None:
                verified.unpersist()
            if batch_post is not None:
                batch_post.unpersist()
            staged.unpersist()

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
    ]
)
# flattened pending sessions: parallel arrays of (start_ms, last_ms, n)
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("starts", StringType()),
        StructField("lasts", StringType()),
        StructField("counts", StringType()),
    ]
)


def sessionize_stateful(events: DataFrame, gap: str = "10 minutes",
                        watermark: str = "1 hour") -> DataFrame:
    """T2/T7 with TIMEOUT-BASED STATE EVICTION — the piece that keeps
    custom stateful streaming BOUNDED at 100 TB: per-user session
    assembly via ``applyInPandasWithState`` with ``EventTimeTimeout``,
    where a session is emitted (and its state dropped) exactly when
    the event-time watermark passes ``last_event + gap`` — the SAME
    append-mode contract as the built-in
    ``session_window`` aggregation, equivalence-tested against it
    (tests/test_streaming.py). A user going quiet costs nothing
    forever: the registered timeout fires once the watermark passes,
    the closed session flushes, and the key's state is REMOVED — no
    unbounded key accumulation, the property NoTimeout operators
    (running_features_stateful) deliberately do not need because
    their state is constant-size per key.

    Why a custom operator when session_window exists: the built-in
    aggregates only; per-session custom logic (running features,
    dedup within session, early triggers) needs this shape — the
    demo keeps the aggregation minimal so the built-in twin can
    verify the session BOUNDARIES and timeout plumbing exactly.

    Session rule (matches session_window): an event extends the
    current session iff ts < last_ts + gap; session_end = last + gap.
    In-batch-closed sessions stay in state until the watermark
    passes their end (NOT emitted early), so the emitted set is
    bit-identical to the built-in's append-mode output at every
    micro-batch boundary. State per key: the open session plus any
    watermark-pending closed ones — bounded by gap/watermark skew,
    never by history."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = _duration_ms(gap) * 1000

    def fn(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        if state.exists:
            starts_s, lasts_s, counts_s = state.get  # property in pyspark 4
            starts = [int(x) for x in starts_s.split(",") if x]
            lasts = [int(x) for x in lasts_s.split(",") if x]
            counts = [int(x) for x in counts_s.split(",") if x]
        else:
            starts, lasts, counts = [], [], []

        if not state.hasTimedOut:
            # Buffer ALL Arrow chunks and sort the batch globally —
            # applyInPandasWithState feeds one key's events as multiple
            # chunks with no cross-chunk order guarantee, and a per-chunk
            # sort lets a later chunk deliver events earlier than ones
            # already folded (ADVICE r10).
            import bisect

            chunks = [
                pdf["ts"].astype("datetime64[us]").astype("int64")
                for pdf in pdfs
                if len(pdf)
            ]
            ts_all = sorted(int(t) for c in chunks for t in c)
            # Pending sessions are disjoint intervals sorted by start,
            # neighbors separated by >= gap. session_window semantics:
            # event t joins session [start, last] iff its distance to
            # the NEAREST session event is < gap, and all internal
            # consecutive gaps are < gap — so the join test is exactly
            # start - gap < t < last + gap. A single event can be
            # within gap of at most its two flanking sessions (three
            # would need two neighbors closer than gap to each other);
            # when it is, it BRIDGES them into one. An event earlier
            # than a session's start EXTENDS THE START DOWNWARD — the
            # within-watermark late-arrival case session_window handles
            # and the r10 last-session-only fold silently absorbed.
            for t in ts_all:
                i = bisect.bisect_right(starts, t)
                left = i - 1 if i >= 1 and t < lasts[i - 1] + gap_us else None
                right = (
                    i if i < len(starts) and t > starts[i] - gap_us else None
                )
                if left is not None and right is not None:
                    lasts[left] = lasts[right]
                    counts[left] += counts[right] + 1
                    del starts[right], lasts[right], counts[right]
                elif left is not None:
                    lasts[left] = max(lasts[left], t)
                    counts[left] += 1
                elif right is not None:
                    starts[right] = t
                    counts[right] += 1
                else:
                    starts.insert(i, t)
                    lasts.insert(i, t)
                    counts.insert(i, 1)

        # watermark is milliseconds; session times are MICROSECONDS so
        # the emitted boundaries match the built-in session_window
        # bit-for-bit (the first draft truncated to ms and drifted by
        # the fixture's sub-ms digits)
        wm_us = state.getCurrentWatermarkMs() * 1000
        flush = [i for i in range(len(starts)) if lasts[i] + gap_us <= wm_us]
        if flush:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(flush),
                    "session_start": pd.to_datetime(
                        [starts[i] for i in flush], unit="us"
                    ),
                    "session_end": pd.to_datetime(
                        [lasts[i] + gap_us for i in flush], unit="us"
                    ),
                    "n_events": [counts[i] for i in flush],
                }
            )
            keep = [i for i in range(len(starts)) if i not in set(flush)]
            starts = [starts[i] for i in keep]
            lasts = [lasts[i] for i in keep]
            counts = [counts[i] for i in keep]

        if not starts:
            state.remove()  # TTL: quiet users cost nothing
        else:
            state.update(
                (
                    ",".join(str(x) for x in starts),
                    ",".join(str(x) for x in lasts),
                    ",".join(str(x) for x in counts),
                )
            )
            # wake exactly when the earliest pending session closes
            # (ceil to ms so the timeout never fires a hair early)
            state.setTimeoutTimestamp(-(-(min(lasts) + gap_us) // 1000))

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _duration_ms(s: str) -> int:
    """'10 minutes' -> 600000; the handful of units the tests use."""
    n, unit = s.split()
    mult = {
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit]
    return int(n) * mult


def stream_kmv_maintenance(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str,
    value_col: str,
    k: int = 64,
    available_now: bool = True,
):
    """Streaming K-minimum-values sketch maintenance: keep a per-group
    distinct-count sketch fresh as batches arrive — the continuous
    twin of ``operators.aggregates.kmv_sketch`` (the catalog's
    hash-checkable approximate-distinct, ``kmv_distinct_users``).

    Per micro-batch: the batch's distinct md5 hashes per group union
    the previous committed posting state, and the per-group min-``k``
    survive — correct BECAUSE the sketch is mergeable (min-k of a
    union == min-k over concatenated partial min-k's, the law
    property-tested on the batch operator) and IDEMPOTENT under
    replay (re-merging a batch's hashes is a set-union no-op, so a
    crashed batch's re-run converges to the same state). State is at
    most ``k`` rows per group — per-batch cost scales with the delta
    plus ``k * |groups|``, never the history. Versioned state with
    the same crash contract as :func:`stream_agg_maintenance`
    (highest _SUCCESS-committed version strictly below the running
    batch id; older versions pruned).
    """
    from pyspark.sql import Window

    def _batch_hashes(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col(value_col).isNotNull())
            .select(
                F.col(group_col).alias("__grp"),
                F.conv(
                    F.substring(F.md5(F.col(value_col).cast("string")), 1, 8),
                    16,
                    10,
                )
                .cast("bigint")
                .alias("hv"),
            )
            .distinct()
        )

    w = Window.partitionBy("__grp").orderBy("hv")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        partial = _batch_hashes(batch_df)
        prev, fs, path_cls = _latest_state_version(spark, state_dir, batch_id)
        if prev is not None:
            st = spark.read.parquet(f"{state_dir}/v{prev}")
            partial = st.unionByName(partial).distinct()
        merged = (
            partial.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
        merged.write.mode("overwrite").parquet(f"{state_dir}/v{batch_id}")
        if prev is not None:
            for status in fs.listStatus(path_cls(state_dir)):
                name = status.getPath().getName()
                if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < prev:
                    fs.delete(status.getPath(), True)

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def kmv_from_state(spark: SparkSession, state_dir: str, k: int = 64) -> DataFrame:
    """Serve the streaming KMV state as sketch rows
    ``(group, n_postings, kth_hash, kmv_estimate)`` — the same
    estimate the batch operator reports (a group holding fewer than
    ``k`` postings is exact by construction; at ``k`` the estimate is
    (k-1) * 2^32 / h_(k))."""
    from pyspark.sql import Window

    st = latest_agg_state(spark, state_dir)
    w = Window.partitionBy("__grp").orderBy("hv")
    r = st.select(
        "__grp",
        "hv",
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(Window.partitionBy("__grp")).alias("__n"),
    )
    sk = r.groupBy("__grp").agg(
        F.max("__n").cast("bigint").alias("n_postings"),
        F.max(F.when(F.col("__rn") == k, F.col("hv")))
        .cast("bigint")
        .alias("kth_hash"),
    )
    return sk.select(
        F.col("__grp").alias("group"),
        "n_postings",
        "kth_hash",
        F.when(
            F.col("n_postings") >= k,
            F.lit(float(k - 1)) * F.lit(4294967296.0) / F.col("kth_hash"),
        )
        .otherwise(F.col("n_postings").cast("double"))
        .alias("kmv_estimate"),
    )
